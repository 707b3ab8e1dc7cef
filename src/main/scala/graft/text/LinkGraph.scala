package graft.text

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.core.{Staging, Tables}
import graft.queries.Entry

/** Link-graph authority scoring (SURVEY.md Q225) — fixed-point PageRank,
  * the canonical crawl-prioritization signal (which pages to fetch/keep
  * first) and the engine's first ITERATIVE GRAPH SCORING operator (the
  * dedup clustering q90 converges labels; this folds mass around cycles).
  *
  * Cross-engine exactness is the design constraint, solved the q219 way:
  * the recurrence runs in SCALED INTEGER arithmetic —
  *
  *   r0(v)   = SCALE // N
  *   rk+1(v) = (15*SCALE) // (100*N)  +  (85 * Σ_{u→v} rk(u) // od(u)) // 100
  *
  * — every operation a BIGINT division/truncation or an integer SUM, so
  * the result is bit-identical regardless of summation order or engine
  * (a float PageRank differs in the last ulps between any two engines
  * and cannot be hash-checked). 8 unrolled iterations; the DuckDB oracle
  * replays the identical recurrence as unrolled CTEs, the q90-twin
  * pattern.
  *
  * The graph itself is EXTRACTED, not assumed: each doc fabricates a
  * minimal outlink page and the edges come from [[Html.parse]]'s href
  * capture (`/doc/<target>` anchors), so the entry also pins attribute
  * parsing inside the q217 tokenizer. Edge formula per doc (replayable
  * in SQL): always (id+1) mod N; (3·id+7) mod N unless id%13==0; plus
  * (7·id+3) mod N when id%3==0 — the conditional edges vary out- and
  * in-degree so PageRank scores SPREAD and the oracle hash pins mass
  * propagation over real graph structure (the round-13 all-bijection
  * formula converged to one uniform score, leaving join direction and
  * src/dst orientation untested).
  *
  * Plan shape: per iteration ONE join (edges ⋈ ranks, both keyed on the
  * node id) + one map-side-combinable integer-sum agg + a left join back
  * to the node set for dangling-in-degree nodes — the textbook
  * distributed PageRank shuffle pattern; each iteration's result is
  * materialized so the unrolled lineage cannot blow up the plan
  * (q90's lesson). At 100 TB nodes/edges partition by id; nothing is
  * driver-side except N (one-row count, mirrored by the oracle's
  * COUNT(*) subquery).
  */
object LinkGraph {

  val Scale = 1000000000000L   // 1e12: 85*SCALE fits comfortably in BIGINT
  val Iterations = 8

  /** Lineage-truncation mode for the iterative fixpoints. [[Local]] (the
    * sandbox default) uses [[Staging.materialize]] — executor-local blocks,
    * no IO, but NOT fault-tolerant: losing an executor mid-fixpoint loses
    * blocks that have no lineage left to recompute them. On a real
    * cluster pass [[Reliable]] — each round persists to the configured
    * `sparkContext.setCheckpointDir` (HDFS/object store), so the fixpoint
    * survives executor loss at the cost of one round-sized write per
    * iteration. Both modes produce bit-identical results (the integer
    * recurrence is deterministic; CheckpointModeSpec pins it). */
  sealed trait CkptMode
  case object Local extends CkptMode
  case object Reliable extends CkptMode
  private def truncate(df: DataFrame, mode: CkptMode): DataFrame = mode match {
    case Local    => Staging.materialize(df)
    case Reliable => df.checkpoint()
  }

  /** Conditional edge targets for doc `id` over an N-node id space (may
    * contain duplicates; every consumer dedups — extractedEdges'
    * distinct, the oracle's UNION, the spec replay's Set). */
  def edgeTargets(id: Long, n: Long): Seq[Long] =
    Seq((id + 1) % n) ++
      (if (id % 13 != 0) Seq((3 * id + 7) % n) else Seq.empty) ++
      (if (id % 3 == 0) Seq((7 * id + 3) % n) else Seq.empty)

  /** Minimal outlink page for doc `id` over an N-node id space. */
  def linkPage(id: Long, n: Long): String = {
    val anchors = edgeTargets(id, n).zipWithIndex.map { case (t, i) =>
      if (i % 2 == 0) s"""<a href="/doc/$t">t$t</a>""" else s"<a href='/doc/$t'>t$t</a>"
    }.mkString(" ")
    s"""<html><body><p>outlinks of $id</p>
       |<nav>$anchors</nav>
       |</body></html>""".stripMargin
  }

  /** The shared integer power-iteration: rk+1(v) = b(v) + 85·Σ//100.
    * PageRank and TrustRank differ ONLY in the per-node base/init mass
    * (`base` must carry (v, b); `init` carries (v, r)). */
  def rankFixpoint(edges0: DataFrame, base: DataFrame, init: DataFrame,
                   ckpt: CkptMode = Local): DataFrame = {
    // The edge list with its src's out-degree is referenced by EVERY
    // iteration; without materializing it each round's action re-runs the
    // whole edge derivation — for the extracted link graph that is 8 full
    // corpus scans + HTML parses per entry (measured: the dominant cost of
    // q225/q238 before this). O(edges), orders of magnitude smaller than
    // the corpus. The out-degree join is round-invariant, so it is paid
    // ONCE here instead of once per iteration — each round is then a
    // single equi-join + one map-side-combinable agg. Both tables are
    // released at return: every round is lineage-truncated, so the
    // returned frame never references them.
    val eo = Staging.materialize(outDegrees(edges0))
    val b = Staging.materialize(base)   // also read once per round (dangling left join)
    var r = init
    for (_ <- 1 to Iterations) {
      val contrib = eo.join(r, col("src") === col("v"))
        .select(col("dst"), expr("r div od").as("c"))
      val sums = contrib.groupBy(col("dst")).agg(sum(col("c")).as("s"))
      val prev = r
      r = truncate(b.join(sums, col("v") === col("dst"), "left")
        .select(col("v"),
          (col("b") + expr("85 * coalesce(s, 0L) div 100")).as("r")),
        ckpt)   // truncate lineage: 8 unrolled join+agg rounds
      Staging.release(prev)
    }
    Staging.release(eo); Staging.release(b)
    r
  }

  /** Edge rows (src, dst) with their src's out-degree `od`; the edge
    * frame's two references share one exchange. */
  private def outDegrees(edges: DataFrame): DataFrame =
    edges.join(edges.groupBy(col("src")).agg(count(lit(1)).as("od")), "src")

  /** Integer PageRank over an extracted edge list; returns (node, score). */
  def pagerank(nodes: DataFrame, edges: DataFrame, n: Long): DataFrame =
    rankFixpoint(edges,
      nodes.select(col("v"), lit((15L * Scale) / (100L * n)).as("b")),
      nodes.select(col("v"), lit(Scale / n).as("r")))

  /** Integer TrustRank (Gyöngyi/Garcia-Molina/Pedersen, VLDB 2004):
    * the same recurrence with ALL base/init mass on the trusted seed
    * set — trust flows only along links out of seeds. */
  def trustrank(nodes: DataFrame, edges: DataFrame, seedPred: Column, ns: Long): DataFrame =
    rankFixpoint(edges,
      nodes.select(col("v"),
        when(seedPred, lit((15L * Scale) / (100L * ns))).otherwise(0L).as("b")),
      nodes.select(col("v"),
        when(seedPred, lit(Scale / ns)).otherwise(0L).as("r")))

  /** BOTH rank vectors through ONE join+agg per iteration: the edge
    * scan, the per-edge division, the shuffle, and the dangling left
    * join are shared — running the chains separately pays every one of
    * those twice (the first q238 cut did, at 2x the wall time). base
    * carries (v, bp, bt); init carries (v, pr, tr); result likewise.
    * The per-vector arithmetic is unchanged, so the separate-chain
    * oracle replays it exactly. */
  def dualRankFixpoint(edges0: DataFrame, base: DataFrame, init: DataFrame,
                       ckpt: CkptMode = Local): DataFrame = {
    // same per-iteration reuse + hoisted out-degree join as [[rankFixpoint]]
    val eo = Staging.materialize(outDegrees(edges0))
    val b = Staging.materialize(base)   // also read once per round (dangling left join)
    var r = init
    for (_ <- 1 to Iterations) {
      val contrib = eo.join(r, col("src") === col("v"))
        .select(col("dst"), expr("pr div od").as("cp"), expr("tr div od").as("ct"))
      val sums = contrib.groupBy(col("dst"))
        .agg(sum(col("cp")).as("sp"), sum(col("ct")).as("st"))
      val prev = r
      r = truncate(b.join(sums, col("v") === col("dst"), "left")
        .select(col("v"),
          (col("bp") + expr("85 * coalesce(sp, 0L) div 100")).as("pr"),
          (col("bt") + expr("85 * coalesce(st, 0L) div 100")).as("tr")),
        ckpt)   // truncate lineage: 8 unrolled join+agg rounds
      Staging.release(prev)
    }
    Staging.release(eo); Staging.release(b)
    r
  }

  val HitsIterations = 4

  /** Integer HITS (Kleinberg, "Authoritative Sources in a Hyperlinked
    * Environment", JACM 1999) — the third classic link-analysis signal
    * beside PageRank (q225) and TrustRank (q238), and a structurally
    * DIFFERENT recurrence: hubs and authorities are MUTUALLY recursive
    * (authority = in-link sum of hub scores; hub = out-link sum of
    * authority scores), and each half-step L1-NORMALIZES its vector —
    * the step PageRank's damping makes unnecessary but HITS requires
    * for convergence. Normalization under the integer discipline:
    * x' = (1e6 * x) div Σx, a global one-row scalar per half-step that
    * broadcasts back (at 100 TB this is a 1-row broadcast join — the
    * cheapest possible coordination). Values stay well inside BIGINT:
    * each normalized vector sums to <= 1e6, so a raw re-expansion is
    * bounded by 1e6 x max-degree.
    */
  def hits(nodes0: DataFrame, edges0: DataFrame, ckpt: CkptMode = Local): DataFrame = {
    // node + edge frames are referenced by every half-step (8 of them) —
    // the same per-iteration reuse as [[rankFixpoint]]
    val nodes = Staging.materialize(nodes0)
    val edges = Staging.materialize(edges0)
    // one half-step: re-expand `vec` across edges (joinKey side consumes,
    // groupKey side accumulates), then L1-normalize to 1e6; returns the
    // truncated raw step (to release once superseded) and its normalized view
    def half(vec: DataFrame, joinKey: String, groupKey: String): (DataFrame, DataFrame) = {
      val raw = truncate(nodes.select(col("v")).join(
          edges.join(vec.select(col("v").as("vv"), col("x")),
              col(joinKey) === col("vv"))
            .groupBy(col(groupKey)).agg(sum(col("x")).as("s")),
          col("v") === col(groupKey), "left")
        .select(col("v"), coalesce(col("s"), lit(0L)).as("x")),
        ckpt)   // reused by the norm scalar AND the next step
      // GREATEST(t, 1): a degenerate graph (empty edge set, or a mass-
      // absorbing half-step summing to 0) must yield all-zero scores,
      // not div-by-zero NULLs silently poisoning every later round; for
      // any live graph t >= 1 and the guard is arithmetic identity
      (raw, raw.crossJoin(broadcast(raw.agg(sum(col("x")).as("t"))))
        .select(col("v"), expr("1000000 * x div greatest(t, 1L)").as("x")))
    }
    var h = nodes.select(col("v"), lit(1000000L).as("x"))
    var a: DataFrame = h
    var (rawA, rawH) = (a, h)
    for (_ <- 1 to HitsIterations) {
      val (ra, na) = half(h, "src", "dst")   // authority: hub mass over in-links
      Staging.release(rawA); rawA = ra; a = na
      val (rh, nh) = half(a, "dst", "src")   // hub: authority mass over out-links
      Staging.release(rawH); rawH = rh; h = nh
    }
    // every half-step is lineage-truncated, so edges can be released here;
    // nodes and the last two steps back the RETURNED plan
    Staging.release(edges)
    nodes.select(col("v"))
      .join(h.select(col("v").as("hv"), col("x").as("hub")), col("v") === col("hv"))
      .join(a.select(col("v").as("av"), col("x").as("auth")), col("v") === col("av"))
      .select(col("v").as("node"), col("hub"), col("auth"))
  }

  /** q245 oracle: the unrolled mutual recursion. The L1 scalar rides as
    * `SUM(x) OVER ()` so each CTE is referenced exactly ONCE by its
    * successor (a scalar subquery on the same CTE would double every
    * level and re-inline the chain exponentially — the q226/q235/q241
    * lesson, fourth sighting); only the final a/h pair is referenced
    * twice, which costs one extra inline of the prefix, not 2^k. */
  private def hitsOracleSql: String = {
    def norm(src: String) =
      s"SELECT v, CAST(((1000000 * x) // (GREATEST(SUM(x) OVER (), 1))) AS BIGINT) AS x FROM $src"
    val rounds = (1 to HitsIterations).map { k =>
      s"""ar$k AS (
         |  SELECT nodes.v, COALESCE(SUM(y.x), 0) AS x
         |  FROM nodes LEFT JOIN (
         |    SELECT e.dst AS t, h.x FROM edges e JOIN h${k - 1} h ON h.v = e.src) y
         |  ON y.t = nodes.v GROUP BY nodes.v),
         |a$k AS (${norm(s"ar$k")}),
         |hr$k AS (
         |  SELECT nodes.v, COALESCE(SUM(y.x), 0) AS x
         |  FROM nodes LEFT JOIN (
         |    SELECT e.src AS t, a.x FROM edges e JOIN a$k a ON a.v = e.dst) y
         |  ON y.t = nodes.v GROUP BY nodes.v),
         |h$k AS (${norm(s"hr$k")})""".stripMargin
    }.mkString(",\n")
    s"""WITH nn AS (SELECT COUNT(*) AS n FROM documents),
       |nodes AS (SELECT doc_id AS v FROM documents),
       |$edgesSql,
       |h0 AS (SELECT v, CAST(1000000 AS BIGINT) AS x FROM nodes),
       |$rounds
       |SELECT n.v AS node, h.x AS hub, a.x AS auth
       |FROM nodes n JOIN h$HitsIterations h ON h.v = n.v
       |JOIN a$HitsIterations a ON a.v = n.v
       |ORDER BY node""".stripMargin
  }

  private def T(s: SparkSession, dir: String, n: String): DataFrame = Tables(s, dir, n)

  /** SQL replay of [[edgeTargets]] — shared by the q225/q226 oracles and
    * q233's anchor aggregation (UNION dedups, mirroring extractedEdges'
    * distinct). Valid in both DuckDB and Spark dialects. */
  private[text] val edgesSql: String =
    """edges AS (
      |  SELECT doc_id AS src, (doc_id + 1) % (SELECT n FROM nn) AS dst FROM documents
      |  UNION
      |  SELECT doc_id, (3 * doc_id + 7) % (SELECT n FROM nn) FROM documents WHERE doc_id % 13 <> 0
      |  UNION
      |  SELECT doc_id, (7 * doc_id + 3) % (SELECT n FROM nn) FROM documents WHERE doc_id % 3 = 0)""".stripMargin

  // CAST pins each iteration's r to BIGINT: DuckDB SUM(BIGINT) returns
  // HUGEINT, which pandas renders float64 and the driver hashes as
  // "…0.0" against Spark's int64 — the round-13 red-row class (q66/q224
  // discipline). Arithmetic is unchanged (values fit BIGINT throughout).
  /** Unrolled power-iteration CTEs `<prefix>1..<prefix>Iterations` over a
    * per-node base-mass expression — shared by the q225 PageRank and
    * q238 TrustRank oracles (they differ only in `baseSql`/`initSql`). */
  private def iterCtes(prefix: String, baseSql: String): String =
    (1 to Iterations).map { k =>
      s"""$prefix$k AS (
         |  SELECT nodes.v,
         |    CAST($baseSql +
         |    ${intDiv("85 * COALESCE(SUM(x.c), 0)", "100")} AS BIGINT) AS r
         |  FROM nodes LEFT JOIN (
         |    SELECT e.dst, ${intDiv("r.r", "o.od")} AS c
         |    FROM edges e JOIN $prefix${k - 1} r ON r.v = e.src
         |    JOIN outd o ON o.src = e.src) x
         |  ON x.dst = nodes.v GROUP BY nodes.v)""".stripMargin
    }.mkString(",\n")

  /** `a // b` with both operands parenthesized. */
  private def intDiv(a: String, b: String) = s"(($a) // ($b))"

  private def prBase = s"((15 * ${Scale}) // (100 * (SELECT n FROM nn)))"
  private def trBase =
    s"(CASE WHEN nodes.v % 97 = 0 THEN ((15 * ${Scale}) // (100 * (SELECT ns FROM sn))) ELSE 0 END)"

  /** Unrolled oracle recurrence. */
  private def oracleSql: String = {
    s"""WITH nn AS (SELECT COUNT(*) AS n FROM documents),
       |nodes AS (SELECT doc_id AS v FROM documents),
       |$edgesSql,
       |outd AS (SELECT src, COUNT(*) AS od FROM edges GROUP BY 1),
       |r0 AS (SELECT v, ${intDiv(Scale.toString, "(SELECT n FROM nn)")} AS r FROM nodes),
       |${iterCtes("r", prBase)}
       |SELECT v AS node, r AS score FROM r$Iterations
       |ORDER BY score DESC, node LIMIT 20""".stripMargin
  }

  /** q238 oracle: BOTH recurrences (PageRank chain p*, TrustRank chain
    * t*) plus the spam-mass composition — `1e6·max(pr−tr,0)//pr`. */
  private def trustOracleSql: String = {
    s"""WITH nn AS (SELECT COUNT(*) AS n FROM documents),
       |sn AS (SELECT COUNT(*) AS ns FROM documents WHERE doc_id % 97 = 0),
       |nodes AS (SELECT doc_id AS v FROM documents),
       |$edgesSql,
       |outd AS (SELECT src, COUNT(*) AS od FROM edges GROUP BY 1),
       |p0 AS (SELECT v, ${intDiv(Scale.toString, "(SELECT n FROM nn)")} AS r FROM nodes),
       |${iterCtes("p", prBase)},
       |t0 AS (SELECT v,
       |  CASE WHEN v % 97 = 0 THEN ${intDiv(Scale.toString, "(SELECT ns FROM sn)")} ELSE 0 END AS r
       |  FROM nodes),
       |${iterCtes("t", trBase)}
       |SELECT p.v AS node, p.r AS pr, t.r AS tr,
       |  CAST(${intDiv("1000000 * GREATEST(p.r - t.r, 0)", "p.r")} AS BIGINT) AS spam_ppm
       |FROM p$Iterations p JOIN t$Iterations t ON t.v = p.v
       |ORDER BY spam_ppm DESC, pr DESC, node LIMIT 20""".stripMargin
  }

  /** The extracted link graph shared by q225/q226: hrefs captured by the
    * q217 tokenizer from each doc's fabricated outlink page. */
  def extractedEdges(s: SparkSession, d: String, n: Long): DataFrame = {
    import s.implicits._
    T(s, d, "documents").select(col("doc_id")).as[Long]
      .flatMap { id =>
        Html.parse(linkPage(id, n)).hrefs
          .map(h => (id, h.stripPrefix("/doc/").toLong))
      }
      .toDF("src", "dst").distinct()
  }

  val MaxDepth = 6

  /** BFS layers from a seed set: (node, depth<=maxDepth); unreached nodes
    * are absent — the "crawl within k hops of the seed list" frontier. */
  def bfsDepths(edges0: DataFrame, seeds: DataFrame, maxDepth: Int,
                ckpt: CkptMode = Local): DataFrame = {
    // the edge list is re-joined by every layer — same reuse as
    // [[rankFixpoint]]; released at return (every layer is truncated)
    val edges = Staging.materialize(edges0)
    var labeled = truncate(seeds.select(col("v"), lit(0).as("depth")), ckpt)
    var frontier = labeled
    for (k <- 1 to maxDepth) {
      // one join + distinct + anti join per layer — O(frontier edges)
      val layer = truncate(frontier.select(col("v")).join(edges, col("v") === col("src"))
        .select(col("dst").as("v")).distinct()
        .join(labeled.select(col("v").as("seen")), col("v") === col("seen"), "left_anti")
        .select(col("v"), lit(k).as("depth")),
        ckpt)
      val prev = labeled
      labeled = truncate(labeled.unionByName(layer), ckpt)
      if (frontier ne prev) Staging.release(frontier)
      Staging.release(prev)
      frontier = layer
    }
    if (frontier ne labeled) Staging.release(frontier)
    Staging.release(edges)
    labeled
  }

  private def bfsOracle: String = {
    // Each level min-combines the previous labeling with the expansion of
    // its exact-(k-1) frontier — the q90-twin unroll pattern. No NOT IN:
    // an anti-join per level against the exponentially-inlined prior
    // labeling OOM'd the planner in the first formulation; MIN() absorbs
    // rediscoveries instead, and first discovery wins by induction.
    val layers = (1 to MaxDepth).map { k =>
      s"""d$k AS (SELECT v, MIN(depth) AS depth FROM (
         |  SELECT v, depth FROM d${k - 1}
         |  UNION ALL
         |  SELECT e.dst AS v, ${k} AS depth
         |  FROM d${k - 1} f JOIN edges e ON e.src = f.v AND f.depth = ${k - 1}
         |) GROUP BY v)""".stripMargin
    }.mkString(",\n")
    s"""WITH nn AS (SELECT COUNT(*) AS n FROM documents),
       |$edgesSql,
       |d0 AS (SELECT doc_id AS v, 0 AS depth FROM documents WHERE doc_id % 97 = 0),
       |$layers
       |SELECT v AS doc_id, CAST(depth AS INT) AS depth FROM d$MaxDepth
       |ORDER BY doc_id""".stripMargin
  }

  val entries: Seq[Entry] = Seq(
    Entry("q225_pagerank", oracleSql) { (s, d) =>
      val docs = T(s, d, "documents")
      // one-row driver scalar, mirrored by the oracle's COUNT(*) subquery
      val n = docs.count()
      val nodes = docs.select(col("doc_id").as("v"))
      pagerank(nodes, extractedEdges(s, d, n), n)
        .select(col("v").as("node"), col("r").as("score"))
        .orderBy(col("score").desc, col("node")).limit(20)
    },

    // Crawl-depth BFS (SURVEY.md Q226): hop distance from the seed list
    // over the same extracted graph — the frontier schedule of a
    // depth-limited crawl ("fetch everything within k hops of the
    // seeds") and the layer structure recrawl prioritization keys on.
    // Pure integer labels; the oracle unrolls the same layer-by-layer
    // expansion (a frontier node's depth is its FIRST discovery round,
    // pinned by the anti-join/NOT IN against all earlier layers).
    Entry("q226_crawl_depth", bfsOracle) { (s, d) =>
      val docs = T(s, d, "documents")
      val n = docs.count()
      val seeds = docs.filter(col("doc_id") % 97 === 0).select(col("doc_id").as("v"))
      bfsDepths(extractedEdges(s, d, n), seeds, MaxDepth)
        .select(col("v").as("doc_id"), col("depth").cast("int").as("depth"))
        .orderBy(col("doc_id"))
    },

    // TrustRank + spam mass (SURVEY.md Q238) — the link-spam demotion
    // tier (Gyöngyi/Garcia-Molina/Pedersen, "Combating Web Spam with
    // TrustRank", VLDB 2004): re-run the q225 recurrence with ALL base
    // mass on a trusted seed list (q226's crawl seeds), then per node
    // compute spam mass — the fraction of its PageRank NOT backed by
    // trust, `1e6·max(pr−tr,0)//pr` — the standard spam-demotion
    // signal. Both vectors ride the SAME 8 join+agg rounds
    // (dualRankFixpoint) — q225's cost class, not twice it; the oracle
    // replays BOTH chains unrolled plus the composition, so the hash
    // pins trust propagation (reachability from seeds included:
    // unreached nodes sit at exactly 1e6 ppm) AND the two chains'
    // relative arithmetic.
    Entry("q238_trustrank", trustOracleSql) { (s, d) =>
      val docs = T(s, d, "documents")
      // two one-row driver scalars, mirrored by the oracle's COUNT(*)s
      val n = docs.count()
      val ns = docs.filter(col("doc_id") % 97 === 0).count()
      val nodes = docs.select(col("doc_id").as("v"))
      val seed = col("v") % 97 === 0
      val base = nodes.select(col("v"),
        lit((15L * Scale) / (100L * n)).as("bp"),
        when(seed, lit((15L * Scale) / (100L * ns))).otherwise(0L).as("bt"))
      val init = nodes.select(col("v"),
        lit(Scale / n).as("pr"),
        when(seed, lit(Scale / ns)).otherwise(0L).as("tr"))
      dualRankFixpoint(extractedEdges(s, d, n), base, init)
        .select(col("v").as("node"), col("pr"), col("tr"),
          expr("CAST((1000000 * GREATEST(pr - tr, 0L)) div pr AS BIGINT)").as("spam_ppm"))
        .orderBy(col("spam_ppm").desc, col("pr").desc, col("node")).limit(20)
    },

    // HITS hubs & authorities (SURVEY.md Q245) — link-analysis signal #3
    // over the same extracted graph: where PageRank scores "endorsed
    // pages" and TrustRank "trust-backed pages", HITS separates DIRECTORY
    // pages (hubs: link to many good targets) from CONTENT pages
    // (authorities: linked from many good hubs) — the split crawl
    // schedulers use to fetch directory pages early. Mutually recursive
    // with per-half-step integer L1 normalization (see [[hits]]); the
    // oracle replays all 4 unrolled rounds including the normalization
    // scalars, so the hash pins the mutual recursion, the truncating
    // normalizations, and both join directions.
    Entry("q245_hits", hitsOracleSql) { (s, d) =>
      val docs = T(s, d, "documents")
      val n = docs.count()   // one-row driver scalar (oracle: COUNT(*))
      val nodes = docs.select(col("doc_id").as("v"))
      hits(nodes, extractedEdges(s, d, n)).orderBy(col("node"))
    }
  )
}
