package graft.queries

import graft.GraftSuite
import graft.SparkEntry

/** Plan-shape assertions (SURVEY.md §4.2 "free — verify, don't build"):
  * the declared queries must actually get the physical plans the 100 TB
  * design assumes — pushed filters, pruned scans, broadcast joins, top-k
  * without a global sort, partial aggregation. A correctness-green query
  * with the wrong plan shape is a scale bug, not a pass. */
@graft.tags.Slow
class PlanShapeSpec extends GraftSuite {

  private def planOf(name: String): String =
    SparkEntry.queries(name)(spark, sf).queryExecution.executedPlan.toString

  test("q06_term: predicate is pushed to the parquet scan") {
    val p = planOf("q06_term")
    assert(p.contains("PushedFilters: [IsNotNull(o_orderstatus), EqualTo(o_orderstatus,F)]"),
      s"filter not pushed:\n$p")
  }

  test("q05_project: scan reads only the projected + sort-tiebreak columns") {
    val p = planOf("q05_project")
    // 3 of lineitem's 16 columns: the 2 projected + l_linenumber (total-order
    // tiebreak). Anything wider means pruning regressed.
    assert(p.contains(
      "ReadSchema: struct<l_orderkey:bigint,l_linenumber:int,l_extendedprice:double>"),
      s"column pruning missing:\n$p")
  }

  test("q13_broadcast_join: part side is broadcast, not shuffled") {
    val p = planOf("q13_broadcast_join")
    assert(p.contains("BroadcastHashJoin"), s"expected broadcast hash join:\n$p")
  }

  test("q40_topk: global top-k plans TakeOrderedAndProject (no full sort)") {
    val p = planOf("q40_topk")
    assert(p.contains("TakeOrderedAndProject"), s"expected TakeOrderedAndProject:\n$p")
  }

  test("q21_terms_agg: partial (map-side) aggregation precedes the shuffle") {
    val p = planOf("q21_terms_agg")
    val partialThenFinal = p.contains("partial_count") ||
      "HashAggregate".r.findAllIn(p).size >= 2
    assert(partialThenFinal, s"no partial aggregate:\n$p")
  }

  test("q62_cosine_topk: query vectors are broadcast (corpus streams, no corpus shuffle)") {
    val p = planOf("q62_cosine_topk")
    assert(p.contains("BroadcastNestedLoopJoin") || p.contains("BroadcastExchange"),
      s"expected broadcast of query vectors:\n$p")
  }

  test("q62_cosine_topk: cosine runs through the codegen'd kernel") {
    val p = planOf("q62_cosine_topk")
    assert(p.contains("vec_dot"), s"expected vec_dot in plan:\n$p")
  }

  test("q86_composite_agg: keyset pager has no window operator; cursor filter pushed") {
    val p = planOf("q86_composite_agg")
    assert(!p.contains("Window"), s"keyset paging must not plan a window:\n$p")
    // the cursor tuple-compare must actually reach the scan — assert its
    // CONTENT (every parquet scan prints an (often empty) PushedFilters
    // list, so matching the bare label would be vacuous)
    assert(p.contains("GreaterThan(lang,de)"),
      s"cursor predicate not pushed to the scan:\n$p")
    assert(p.contains("TakeOrderedAndProject"), s"expected top-n page:\n$p")
  }

  test("q39_paging: bounded page fetched via TakeOrderedAndProject, not a full-table window") {
    val p = planOf("q39_paging")
    assert(p.contains("TakeOrderedAndProject"),
      s"expected the from+size prefix via TakeOrderedAndProject:\n$p")
  }

  test("q91_stratified_sample: pure filter — no hash-partitioned shuffle in the plan") {
    val p = planOf("q91_stratified_sample")
    assert(!p.contains("hashpartitioning"),
      s"sampling must not shuffle on a key (the only exchange is the output sort):\n$p")
  }

  test("q95_adjacency_matrix: both aggregation levels are partial-aggregated") {
    val p = planOf("q95_adjacency_matrix")
    assert("HashAggregate".r.findAllIn(p).size >= 4,
      s"expected partial+final HashAggregate at both levels:\n$p")
  }

  test("q124_search_after: keyset page = pushed cursor filter + TakeOrderedAndProject, no window") {
    val p = planOf("q124_search_after")
    assert(!p.contains("Window"), s"search_after must not plan a window:\n$p")
    assert(p.contains("TakeOrderedAndProject"), s"expected top-n page:\n$p")
    // the tuple-compare cursor reaches the scan (content, not bare label)
    assert(p.contains("LessThan(o_totalprice,150000.0)"),
      s"cursor predicate not pushed to the scan:\n$p")
  }

  test("q137_percolate: stored queries broadcast; corpus side never shuffles before the agg") {
    val p = planOf("q137_percolate")
    assert(p.contains("BroadcastNestedLoopJoin"),
      s"expected broadcast-nested-loop over the stored-query table:\n$p")
  }

  test("q122_function_score_decay: top-20 plans TakeOrderedAndProject (no global sort)") {
    val p = planOf("q122_function_score_decay")
    assert(p.contains("TakeOrderedAndProject"), s"expected TakeOrderedAndProject:\n$p")
  }

  test("q121_simple_query_string: parsed predicate compiles to a filter, no join/window") {
    val p = planOf("q121_simple_query_string")
    assert(!p.contains("Join") && !p.contains("Window"),
      s"the compiled query must be a pure scan+filter plan:\n$p")
  }

  test("q153_common_terms: classified terms fold into a join-free scan + TakeOrdered") {
    // the df probe runs eagerly at plan-build time (tiny corpus-stat agg);
    // the RETURNED plan must be scan-shaped: no join, no window, top-k heap
    val p = planOf("q153_common_terms")
    assert(!p.contains("Join") && !p.contains("Window"),
      s"main pass must be join-free:\n$p")
    assert(p.contains("TakeOrderedAndProject"), s"expected TakeOrderedAndProject:\n$p")
  }

  test("q150_field_value_factor: top-20 plans TakeOrderedAndProject") {
    val p = planOf("q150_field_value_factor")
    assert(p.contains("TakeOrderedAndProject"), s"expected TakeOrderedAndProject:\n$p")
  }

  test("q145_shard_budget: the balance window runs over post-agg rows only") {
    // Window above HashAggregate (O(shards) rows), never below it — a
    // window under the agg would be a corpus-wide single-partition sort
    val p = planOf("q145_shard_budget")
    val win = p.indexOf("Window")
    val agg = p.lastIndexOf("HashAggregate")
    assert(win >= 0 && agg > win,
      s"window must sit above the aggregation (tree prints top-down):\n$p")
  }

  test("q156_det_shuffle: shard-head rank prunes via WindowGroupLimit before the shuffle") {
    // row_number <= 3 per shard must plan the rank-limit pushdown: each
    // map task keeps 3 rows per shard ahead of the exchange, so the
    // declared head query never moves the corpus. If this assert fires,
    // the window expression stopped matching the optimizer's
    // InferWindowGroupLimit pattern.
    val p = planOf("q156_det_shuffle")
    assert(p.contains("WindowGroupLimit"), s"expected WindowGroupLimit:\n$p")
  }

  test("q173_rank_eval: ranking window is partitioned by query term, never global") {
    // PARTITION BY w keeps each evaluated query's candidate ranking an
    // independent partition — a global (empty-partition-spec) window
    // would funnel every candidate through one task at scale.
    val p = planOf("q173_rank_eval")
    val win = p.indexOf("Window")
    assert(win >= 0, s"expected a window operator:\n$p")
    val spec = p.substring(win, math.min(p.length, win + 400))
    assert(!spec.contains("windowspecdefinition(") ||
           spec.contains("windowspecdefinition(w#"),
      s"ranking window must partition by the query term:\n$spec")
  }

  test("q182_analyze: literal analysis plans no table scan") {
    val p = planOf("q182_analyze")
    assert(!p.toLowerCase.contains("parquet"), s"_analyze must not scan a table:\n$p")
  }

  test("q146_window_dedup: the window-count exchange carries fingerprints, not window strings") {
    // the 128-bit (h1, h2) fingerprint replaces the ~100-byte window
    // string as the shuffle key, and the string must be projected away
    // BEFORE the exchange — a `win` attribute in any hashpartitioning
    // spec means the payload diet regressed
    val p = planOf("q146_window_dedup")
    val exchanges = "Exchange hashpartitioning\\([^)]*\\)".r.findAllIn(p).toList
    assert(exchanges.exists(_.contains("h1#")), s"expected an (h1, h2) exchange:\n$p")
    assert(!exchanges.exists(_.contains("win#")),
      s"window string must not ride a shuffle:\n${exchanges.mkString("\n")}")
  }

  test("q256_dup_span_scrub: count + canonical rank share ONE fingerprint exchange") {
    // the multiplicity count and the ROW_NUMBER canonical rank partition
    // by the same (h1, h2) key — Catalyst must plan a single Exchange
    // feeding both Window operators, and the window string must never
    // ride a shuffle (q146's payload diet).
    // cache-independence: no entry persists (Staging materializes into
    // lineage-free blocks instead), but a frame another spec cached over a
    // strict subplan of this entry's would substitute an InMemoryTableScan
    // and hide the exchange this pin inspects — the pin must see the cold
    // plan
    spark.catalog.clearCache()
    val p = planOf("q256_dup_span_scrub")
    val exchanges = "Exchange hashpartitioning\\([^)]*\\)".r.findAllIn(p).toList
    assert(exchanges.count(_.contains("h1#")) == 1,
      s"expected exactly one (h1, h2) exchange:\n${exchanges.mkString("\n")}")
    assert(!exchanges.exists(_.contains("win#")),
      s"window string must not ride a shuffle:\n${exchanges.mkString("\n")}")
  }

  test("q280/q281/q282/q283: the new entries' scans prune to exactly the used columns") {
    // q280's field registry also declares price -> p_retailprice, which
    // the pinned query never references — pruning must drop it (an
    // eagerly-built but unused Column leaking into the scan would read a
    // dead column on every query at 100 TB)
    val p280 = planOf("q280_query_string")
    assert(p280.contains("ReadSchema: struct<p_partkey:bigint,p_name:string,p_brand:string,p_type:string,p_size:int>"),
      s"q280 scan not pruned to the referenced fields:\n$p280")
    val p283 = planOf("q283_query_string_fields")
    assert(p283.contains("ReadSchema: struct<p_partkey:bigint,p_name:string,p_brand:string,p_type:string,p_size:int>"),
      s"q283 scan not pruned to the referenced fields:\n$p283")
    // q281 derives everything from the key
    val p281 = planOf("q281_geo_distance_agg")
    assert(p281.contains("ReadSchema: struct<c_custkey:bigint>"),
      s"q281 must read only the key:\n$p281")
    // q282 fabricates payloads from the id; only the id column may load
    val p282 = planOf("q282_flac_decode")
    assert(p282.contains("ReadSchema: struct<doc_id:bigint>"),
      s"q282 must read only doc_id:\n$p282")
  }

  test("q224_curation_funnel: the text-keeper window exchange carries the md5 key, not text") {
    // VERDICT r17 #1: the batch funnel's exact-dup keeper window keys on
    // tkey = md5(text) (Funnel.tkeyOf — shared with q274's ingest gate),
    // so no exchange in the funnel family carries the document body. The
    // same reachFlags derivation backs q252 and q276, so one pin covers
    // the family's window key.
    for (name <- Seq("q224_curation_funnel", "q276_funnel_yield_by_host")) {
      val p = planOf(name)
      val exchanges = "Exchange hashpartitioning\\([^)]*\\)".r.findAllIn(p).toList
      assert(exchanges.exists(_.contains("tkey#")),
        s"$name: expected a tkey-keyed window exchange:\n${exchanges.mkString("\n")}")
      assert(!exchanges.exists(_.contains("text#")),
        s"$name: document text must not ride a shuffle:\n${exchanges.mkString("\n")}")
    }
  }

  test("q257_split_leakage: the leak join is keyed by fingerprints, not window strings") {
    val p = planOf("q257_split_leakage")
    val exchanges = "Exchange hashpartitioning\\([^)]*\\)".r.findAllIn(p).toList
    assert(exchanges.exists(_.contains("h1#")), s"expected a fingerprint exchange:\n$p")
    assert(!exchanges.exists(_.contains("win#")),
      s"window string must not ride a shuffle:\n${exchanges.mkString("\n")}")
  }

  test("q258_budget_apportion: corpus aggregates once; scalars broadcast; ranking off-corpus") {
    // the corpus contributes ONE lang-keyed aggregation; the budget total
    // and leftover are one-row broadcasts (never a shuffled join); the
    // single-partition ranking window runs on the O(langs) decision table
    // the O(langs) count table is read three times in one plan (budget
    // total, base derivation, leftover): its lang aggregation exchange
    // runs ONCE and the other references read it as a ReusedExchange,
    // so the EXECUTED plan (after AQE's stage reuse) scans the corpus
    // once and holds one distinct lang exchange
    val df = SparkEntry.queries("q258_budget_apportion")(spark, sf)
    df.collect()
    val p = df.queryExecution.executedPlan.toString.split("== Initial Plan ==").head
    assert(p.contains("ReusedExchange"),
      s"the O(langs) count table must be computed once, not re-aggregated:\n$p")
    assert("FileScan parquet".r.findAllIn(p).size == 1, s"corpus must be scanned once:\n$p")
    assert(p.contains("BroadcastExchange"), s"budget scalars must broadcast:\n$p")
    val exchanges =
      "Exchange hashpartitioning\\([^)]*\\), [A-Z_]+, \\[plan_id=\\d+\\]".r.findAllIn(p).toList
    assert(exchanges.forall(_.contains("lang#")),
      s"only the lang aggregation may shuffle:\n${exchanges.mkString("\n")}")
    assert(exchanges.toSet.size == 1,
      s"corpus must aggregate once:\n${exchanges.mkString("\n")}")
  }

  test("q259_apportioned_sample: allocation broadcasts; only lang-keyed corpus exchanges") {
    // the O(langs) allocation table must join back as a broadcast (a
    // shuffled join would re-key the corpus on lang twice), and every
    // shuffle in the plan is the lang partitioning the cumulative window
    // genuinely needs
    val p = planOf("q259_apportioned_sample")
    assert(!p.contains("SortMergeJoin") && !p.contains("ShuffledHashJoin"),
      s"allocation join must broadcast:\n$p")
    val exchanges = "Exchange hashpartitioning\\([^)]*\\)".r.findAllIn(p).toList
    assert(exchanges.forall(_.contains("lang#")),
      s"only lang-keyed exchanges expected:\n${exchanges.mkString("\n")}")
  }

  test("q188_has_parent: filtered parent side broadcasts; child scan stays shuffle-free") {
    // children outnumber parents; inner_hits projection must not change
    // the join strategy (broadcast-hash) or shuffle the child table
    val p = planOf("q188_has_parent")
    assert(p.contains("BroadcastHashJoin"), s"expected broadcast hash join:\n$p")
    assert(!p.contains("Exchange hashpartitioning"),
      s"child side must not shuffle for a broadcast parent probe:\n$p")
    // the parent filter must reach the parent scan
    assert(p.contains("EqualTo(c_mktsegment,BUILDING)"),
      s"parent filter not pushed:\n$p")
  }

  test("q188_has_child: one window pass over children — no self-join for n_hits") {
    // rank + per-parent count share one Window operator chain; a second
    // child scan or a child-child join would double the heavy side
    val p = planOf("q188_has_child")
    // unconditional count — a broadcast self-join regression must fail too
    assert("Join".r.findAllIn(p).size <= 2,
      s"expected a single parent-child join:\n$p")
    assert("Scan parquet".r.findAllIn(p).size <= 2,
      s"children must scan once:\n$p")
  }

  test("q159_phrase_suggester: candidate isin filter sits below the bigram exchange") {
    // The bigram count agg must see only candidate-matched rows: the
    // literal isin filter has to sit BELOW the (w1, w2) exchange (i.e.
    // later in the top-down print), so the shuffle carries ≤9 keys, never
    // the full corpus bigram table (the round-10 scale bug).
    val p = planOf("q159_phrase_suggester")
    val ex = p.indexOf("Exchange hashpartitioning(w1")
    // the column renders as either `w1#n` or pre-projection `bg#n.w1`
    val filterIdx = "Filter [^\n]*w1(#\\d+)? IN \\(".r.findFirstMatchIn(p).map(_.start).getOrElse(-1)
    assert(ex >= 0, s"expected the bounded bigram exchange:\n$p")
    assert(filterIdx > ex,
      s"candidate isin filter must sit below the bigram exchange (map-side):\n$p")
  }

  test("q193_update_by_query: audit renders from ONE scan — no join, no second pass") {
    val p = planOf("q193_update_by_query")
    assert(!p.contains("Join"), s"conditional aggregation must not join:\n$p")
    assert("Scan parquet".r.findAllIn(p).size == 1, s"documents must scan once:\n$p")
  }

  test("q194_geo_shape: envelope relations are a join-free scan + filter + project") {
    val p = planOf("q194_geo_shape")
    assert(!p.contains("Join") && !p.contains("Window"),
      s"shape relations must be pure per-row arithmetic:\n$p")
    assert("Scan parquet".r.findAllIn(p).size == 1, s"customer must scan once:\n$p")
  }

  test("q189_geo_polygon: ray-cast is a join-free scan filter inside codegen") {
    val p = planOf("q189_geo_polygon")
    assert(!p.contains("Join") && !p.contains("Window"),
      s"point-in-polygon must be a pure scan+filter plan:\n$p")
  }

  test("q191_children_agg: segment fold sees parent-grain rows (child pre-agg below the join)") {
    // tree prints top-down: the child-side HashAggregate (group by
    // o_custkey) must appear BELOW the join, so the segment agg above it
    // only folds O(parents) rows
    val p = planOf("q191_children_agg")
    val join = p.indexOf("Join")
    val childAgg = p.lastIndexOf("HashAggregate")
    assert(join >= 0 && childAgg > join,
      s"child pre-aggregation must sit below the parent join:\n$p")
  }

  test("q200_geo_shape_rings: refine is join-bounded to candidate cells (broadcast hash, no cartesian)") {
    val p = planOf("q200_geo_shape_rings")
    assert(p.contains("BroadcastHashJoin"),
      s"candidate pairing must be a broadcast hash equi-join on cell:\n$p")
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"),
      s"refine must never run on the full cross product:\n$p")
    // The relation CASE must sit ABOVE the join (tree prints top-down:
    // smaller index = higher): refining pre-join would evaluate it per
    // doc-cell row instead of per candidate pair.
    val joinIdx = p.indexOf("BroadcastHashJoin")
    val caseIdx = p.indexOf("WITHIN")
    assert(caseIdx >= 0 && caseIdx < joinIdx,
      s"exact refine must run on candidate pairs only (above the cell join):\n$p")
    // The refine must stay O(1) in ring size: higher-order functions over
    // the ring array, whose loop bodies keep generated methods small (the
    // unrolled per-ring CASE grew one method past Janino's 64 KB limit,
    // knocked the stage out of whole-stage codegen, and ran a ~3000-node
    // interpreted tree per candidate — 6.2 s at sf0.1 vs 2.6 s for this
    // shape). Each of the three HOF predicates must appear exactly once:
    // a second occurrence means Catalyst's filter substitution is
    // re-evaluating the refine per row.
    info(s"exists=${"exists\\(".r.findAllIn(p).size} aggregate=${"aggregate\\(".r.findAllIn(p).size}")
    assert("exists\\(".r.findAllIn(p).size == 1,
      s"edge-crossing HOF must be evaluated once, not duplicated by substitution:\n$p")
    assert("aggregate\\(".r.findAllIn(p).size == 1,
      s"ray-cast HOF must be evaluated once, not duplicated by substitution:\n$p")
    // The first()-fold barrier must ride the dedup's partitioning: one
    // hash exchange total (plus the output sort's range exchange).
    assert("Exchange hashpartitioning".r.findAllIn(p).size == 1,
      s"barrier aggregate must not introduce a second shuffle:\n$p")
  }

  test("q202/q204: codec entries stay map-only — no hash exchange before the output sort") {
    // decode work is per-row; the only exchange the plan may carry is the
    // output orderBy's range partitioning. A hashpartitioning exchange
    // means a shuffle crept into the decode path.
    Seq("q202_avi_frame_sample", "q204_audio_dominant_freq",
        "q206_utf8_repair", "q208_ulaw_decode",
        "q211_audio_vad", "q212_pcm_upsample",
        "q213_alaw_decode", "q214_tiff_decode",
        "q216_unicode_nfc").foreach { name =>
      val p = planOf(name)
      assert(!p.contains("Exchange hashpartitioning"),
        s"$name decode path must not shuffle:\n$p")
    }
  }

  test("q203/q205: shard entries shuffle once — the fabrication groupBy only") {
    // the single hash exchange is the fixture-side shard assembly
    // (production blobs arrive pre-sharded); the parse side adds nothing.
    // q209/q210 earn their one exchange differently — it IS the operator
    // (the dHash dedup group / the bucket plan) — but the budget is the
    // same: exactly one hash shuffle.
    Seq("q203_tar_shards", "q205_jsonl_gz_shards", "q215_zip_shards",
        "q209_image_dhash_dedup", "q210_aspect_buckets").foreach { name =>
      val p = planOf(name)
      assert("Exchange hashpartitioning".r.findAllIn(p).size == 1,
        s"$name must carry exactly the fabrication shuffle:\n$p")
    }
  }

  test("q217/q222: crawl-curation kernels stay map-only — no hash exchange before the sort") {
    // extraction / robots evaluation are per-row; the only exchange either
    // plan may carry is the output orderBy's range partitioning.
    Seq("q217_html_extract", "q222_robots_filter").foreach { name =>
      val p = planOf(name)
      assert(!p.contains("Exchange hashpartitioning"),
        s"$name must not shuffle:\n$p")
    }
  }

  test("q218/q221: one hash shuffle each — the dedup agg / the fabrication groupBy") {
    // q218's single exchange IS the operator (the canonical-key dedup
    // agg); q221's is the fixture-side shard assembly, exactly q203's
    // budget — the WARC/HTTP/HTML parse side adds nothing.
    Seq("q218_url_dedup", "q221_warc_shards").foreach { name =>
      val p = planOf(name)
      assert("Exchange hashpartitioning".r.findAllIn(p).size == 1,
        s"$name must carry exactly one hash shuffle:\n$p")
    }
  }

  test("q219_langid_model: scoring is map-only — the corpus never hash-shuffles") {
    // the model is a driver artifact folded in as a literal map (q234's
    // broadcast-model posture), and each document's top-K rank profile is
    // computed from its own row with array kernels — so the returned
    // scoring plan must carry NO window, NO join, and exactly ONE
    // hashpartitioning exchange (the final O(langs^2) confusion agg)
    val p = planOf("q219_langid_model")
    assert(!p.contains("Window"), s"doc-side window survived the fold:\n$p")
    assert(!p.contains("Join"), s"scoring should join nothing:\n$p")
    assert("Exchange hashpartitioning".r.findAllIn(p).size == 1,
      s"scoring must carry only the confusion-matrix exchange:\n$p")
  }

  test("q228_sitemap_parse: only the fixture-side fabrication shuffles") {
    // distinct(g) + groupBy(host) = the two fabrication exchanges; the
    // index-walk + XML parse + canonicalize side is map-only and must
    // add nothing (production reads real sitemap files — no shuffle).
    val p = planOf("q228_sitemap_parse")
    assert("Exchange hashpartitioning".r.findAllIn(p).size == 2,
      s"q228 must carry exactly the two fabrication shuffles:\n$p")
  }

  test("q229_sitemap_coverage: audit joins listed-vs-crawled as a full-outer SMJ") {
    // both sides are corpus-sized URL sets keyed on the canonical string —
    // a sort-merge join on the key is the scale shape (never a broadcast
    // of either side, never a nested loop).
    val p = planOf("q229_sitemap_coverage")
    assert(p.contains("SortMergeJoin") && p.contains("FullOuter"),
      s"expected full-outer sort-merge join:\n$p")
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"),
      s"audit must not plan a product join:\n$p")
  }

  test("q231_simhash_neardup: probe expansion joins on the exact fingerprint, never all-pairs") {
    // r18 plan (SCALE.md sf1 adjudication #1): candidate generation is
    // Hamming-ball probe expansion — a keyed equi-join of 17 probe keys
    // per a-side doc against the b-side's EXACT fingerprint, whose
    // candidate set IS the true pair set. A product join would be the
    // quadratic plan the operator exists to avoid, and a bit_count
    // verify FILTER reappearing means the join key degraded back to a
    // partial (band) key that needs post-verification.
    val p = planOf("q231_simhash_neardup")
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"),
      s"probe-expansion join degraded to a product:\n$p")
    assert("hashpartitioning\\(key#".r.findFirstIn(p).isDefined ||
           p.contains("BroadcastHashJoin"),
      s"expected the probe join keyed on the full fingerprint:\n$p")
    assert(!p.contains("bit_count"),
      s"bit_count post-filter reappeared — the probe join stopped being exact:\n$p")
    // no pair-level DISTINCT exchange: each true pair hits exactly ONE
    // probe key (hamming-0 → the identity probe only; hamming-1 → the
    // single differing-bit flip), so there are no duplicate candidate
    // rows to dedup and a corpus-pair shuffle keyed on (da, db) would be
    // pure waste. (A single-key hashpartitioning(da) is fine: that is
    // the left-outer join's own requirement, not a pair dedup.)
    assert(!"hashpartitioning\\(da[^)]*\\bdb".r.findFirstIn(p).isDefined,
      s"pair-keyed exchange reappeared:\n$p")
    // the fingerprint derivation is map-only since round 14 (SimHash16
    // kernel in the scan) — the only exchanges left are the join and agg
    assert(!p.contains("Window"), s"fingerprint window reappeared:\n$p")
  }

  test("q284_simhash64_neardup: block probe is an exact-key equi-join; verify is post-join") {
    // the production-width plan (SURVEY Q284): candidates from ONE
    // (blk, key) equi-join over the 4x16-bit Manku blocks — never a
    // product — with the bit_count radius verify a filter on the joined
    // rows (the verify is the plan's point here, unlike q231 where the
    // probe set IS exact and bit_count reappearing would be a bug)
    val p = planOf("q284_simhash64_neardup")
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"),
      s"block-probe join degraded to a product:\n$p")
    assert(p.contains("bit_count"),
      s"the hamming<=3 verify filter must guard the candidate set:\n$p")
    assert("hashpartitioning\\((blk|key)#".r.findFirstIn(p).isDefined ||
           p.contains("BroadcastHashJoin"),
      s"expected the probe join keyed on (blk, key):\n$p")
    assert(!p.contains("Window"), s"fingerprint derivation must stay map-only:\n$p")
  }

  test("q287_highlight_fragments: fragment positions are in-row — no per-doc window") {
    // the DataFrame plan computes match positions with one linear
    // higher-order aggregate and posexplodes them: MAP-ONLY, so the only
    // exchange is the output sort (the SQL twin keeps the window
    // formulation as an independent cross-pin of the arithmetic)
    val p = planOf("q287_highlight_fragments")
    assert(!p.contains("Window"), s"per-doc window reappeared:\n$p")
    assert(!p.contains("Exchange hashpartitioning"),
      s"fragment derivation must not hash-shuffle:\n$p")
    assert(p.contains("Generate"), s"expected the posexplode of the position list:\n$p")
  }

  test("q288_sort_by_child: the child sort key partial-aggregates before the join") {
    // min-mode sort-by-child needs no per-parent window: the child agg
    // must run partial (map-side combine) on the child key, then one
    // equi-join to parents — no row_number pass, no product
    val p = planOf("q288_sort_by_child")
    assert(!p.contains("Window"), s"window pass reappeared (min needs only an agg):\n$p")
    assert(p.contains("partial_min") || "HashAggregate.*partial".r.findFirstIn(p).isDefined,
      s"child agg must partial-aggregate map-side:\n$p")
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"),
      s"no product joins:\n$p")
  }

  test("q232_anchor_text: fabrication+parse map-only; only dedup + target agg shuffle") {
    // anchor extraction must ride the scan (production: the q221 ingest
    // pass); the entry's only exchanges are the (target, src) distinct and
    // the per-target aggregation — q60's dedup shape on the anchor signal
    val p = planOf("q232_anchor_text")
    assert("Exchange hashpartitioning".r.findAllIn(p).size == 2,
      s"q233 must carry exactly the dedup + agg shuffles:\n$p")
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"))
  }

  test("q238_trustrank: composition is an equi-join + TakeOrdered, no product") {
    // both rank chains end localCheckpoint'ed; the spam-mass composition
    // must plan one node-keyed equi-join and a top-k heap — never a
    // product join or a global sort
    val p = planOf("q238_trustrank")
    assert(p.contains("TakeOrderedAndProject"), s"expected top-k heap:\n$p")
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"))
  }

  test("q234_quality_model: model joins back broadcast; no product joins") {
    // training reduces to O(signals x 10) rows; scoring must join that
    // tiny posterior table BROADCAST (at 100 TB the model is still ~50
    // rows) — a shuffle join keyed on (sig, b) would move the corpus-
    // sized unpivot for nothing
    val p = planOf("q234_quality_model")
    assert(p.contains("BroadcastExchange"), s"posterior table should broadcast:\n$p")
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"))
  }

  test("q236_unigram_encode: vocab-level DP results broadcast into the corpus join") {
    // the Viterbi DP runs per DISTINCT word (vocab-sized); the corpus is
    // charged one equi-join on `w` — the build side must broadcast here
    // (at a 100M-word vocab it degrades to a shuffle join, still never
    // corpus-quadratic), plus the per-doc aggregation
    val p = planOf("q236_unigram_encode")
    assert(p.contains("BroadcastExchange"), s"word-value side should broadcast:\n$p")
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"))
  }

  test("q246_corpus_card: all granularities in one Expand pass — one exchange") {
    // four grouping sets must plan a single Expand feeding ONE
    // aggregation exchange; k separate GROUP BYs would re-scan and
    // re-shuffle the corpus k times
    val p = planOf("q246_corpus_card")
    assert(p.contains("Expand"), s"grouping sets should plan an Expand:\n$p")
    assert("Exchange hashpartitioning".r.findAllIn(p).size == 1,
      s"the card must carry exactly one aggregation exchange:\n$p")
    assert(!p.contains("Join") && !p.contains("Window"),
      s"the card is a pure scan + grouped agg:\n$p")
  }

  test("q243_token_fertility: q236's broadcast join, ONE host-keyed rollup") {
    // fertility rides the encode shape: vocab-sized DP broadcast into the
    // corpus word join, then a single host-keyed aggregation (q230's
    // posture; count-distinct plans the standard two-phase expand)
    val p = planOf("q243_token_fertility")
    assert(p.contains("BroadcastExchange"), s"word-value side should broadcast:\n$p")
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"))
    // count-distinct plans the two-phase distinct: a partial agg keyed on
    // (host, doc_id) collapses duplicates map-side before the host agg —
    // the corpus word rows never shuffle raw
    assert(p.contains("hashpartitioning(host") &&
      "hashpartitioning\\(host[^)]*doc_id".r.findFirstIn(p).isDefined,
      s"expected the (host, doc_id) two-phase distinct:\n$p")
  }

  test("q233_redirect_resolve: hop joins stay equi-joins; redirect map broadcasts") {
    // each hop is one equi-join of the state against the redirect map;
    // the map is the 3xx fraction of records (small at any crawl scale)
    // and must plan as a broadcast build side, never a product join
    val p = planOf("q233_redirect_resolve")
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"),
      s"hop resolution degraded to a product join:\n$p")
    assert(p.contains("BroadcastExchange"), s"redirect map should broadcast:\n$p")
  }

  test("q240_resolved_dedup: partial agg on the resolved key; no product joins") {
    // the composition's only cost on top of q233 is one keyed aggregation
    // — MIN/COUNT partials must collapse map-side before the exchange,
    // and the hop machinery keeps q233's broadcast/equi-join shape
    val p = planOf("q240_resolved_dedup")
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"),
      s"resolution degraded to a product join:\n$p")
    assert(p.contains("partial_min") || "HashAggregate".r.findAllIn(p).size >= 2,
      s"no map-side partial aggregate on the resolved key:\n$p")
  }

  test("q249_ccnet_terciles: exact rank rides the doc tier, one single-partition exchange") {
    // the global ROW_NUMBER is the oracle-replayable boundary derivation;
    // its single-partition exchange must sit on the O(docs) POST-AGG tier
    // (one such exchange in the whole plan), never on corpus-sized rows —
    // at deployment scale the boundaries come from a driver-side sample
    // and this window disappears entirely (entry scaladoc)
    val p = planOf("q249_ccnet_terciles")
    assert(p.contains("Window"), s"expected the rank window:\n$p")
    // exactly two single-partition exchanges, both on bounded tiers: the
    // rank window over the O(docs) per-doc agg output, and the one-row tt
    // bigram-type total inside q244's shared chain — anything more means
    // corpus-sized rows started collapsing to one partition
    assert("Exchange SinglePartition".r.findAllIn(p).size == 2,
      s"expected exactly the rank + tt single-partition exchanges:\n$p")
    val docAgg = p.indexOf("HashAggregate(keys=[doc_id")
    assert(docAgg >= 0 && p.indexOf("Exchange SinglePartition") < docAgg,
      s"the rank's exchange must sit above the per-doc agg:\n$p")
    assert(!p.contains("CartesianProduct") && !p.contains("SortMergeJoin"),
      s"the tercile layer must add no joins beyond q244's broadcasts:\n$p")
  }

  test("q262_dsir_select: bucket tables broadcast; corpus exchanges keyed doc_id/bucket only") {
    // the O(64) lambda table and the one-row k threshold must broadcast
    // back (a shuffled join would re-key the corpus for a 64-row dim);
    // every hash exchange is the (doc_id, b) feature agg, the b-keyed
    // bucket rollups, or the doc_id-keyed score/lang joins — nothing
    // corpus-sized collapses to one partition except the O(docs) POST-AGG
    // rank window (q249's adjudicated boundary-derivation posture)
    val p = planOf("q262_dsir_select")
    assert(p.contains("Window"), s"expected the selection rank window:\n$p")
    assert(!p.contains("SortMergeJoin") && !p.contains("CartesianProduct"),
      s"lambda/threshold joins must broadcast:\n$p")
    assert(p.contains("BroadcastExchange"), s"expected broadcast dims:\n$p")
    val exchanges = "Exchange hashpartitioning\\([^)]*\\)".r.findAllIn(p).toList
    assert(exchanges.forall(e => e.contains("doc_id#") || e.contains("b#")),
      s"unexpected exchange key:\n${exchanges.mkString("\n")}")
    // every SinglePartition in this plan is a bounded tier: the qt/pt/k
    // one-row totals and the rank over O(docs) post-agg score rows — pin
    // the exact count (the q249 accounting; a vacuous indexOf(-1) check
    // here once passed with the rank exchange missing entirely), and the
    // rank's exchange must sit above the per-doc score agg
    // six under Spark 4.1.2/AQE-off plan text: the rank window, qt/pt,
    // the k count, and the qt/pt echoes inside k's branch (score is
    // consumed by both the rank and the count, so its lam subtree plans
    // twice with pruned outputs). Bounded ABOVE at that count — a seventh
    // would mean a new unaccounted total-order tier — with the required
    // rank exchange pinned positionally below; a benign planner change
    // that merely dedups an echo must not fail the suite (r16 advice).
    val sps = "Exchange SinglePartition".r.findAllMatchIn(p).map(_.start).toList
    assert(sps.nonEmpty && sps.size <= 6,
      s"expected at most the rank + qt/pt/k-total single-partition exchanges (got ${sps.size}):\n$p")
    val docAgg = p.indexOf("HashAggregate(keys=[doc_id")
    assert(docAgg >= 0 && sps.min < docAgg,
      s"the rank's exchange must sit above the per-doc agg:\n$p")
  }

  test("q267_decontam_scrub: benchmark windows broadcast; marking costs no corpus exchange") {
    // the q254 decontamination posture applied to the excision tier: the
    // benchmark window-fingerprint set is eval-suite-sized at any corpus
    // scale, so the marking probe must be a broadcast join on the
    // map-only window stream; the only hash exchanges are doc_id-keyed
    // (the marked-position union / islands / ledger join — the
    // contaminated tail, not the corpus)
    val p = planOf("q267_decontam_scrub")
    assert(p.contains("BroadcastHashJoin"), s"benchmark probe must broadcast:\n$p")
    assert(!p.contains("SortMergeJoin") && !p.contains("CartesianProduct"),
      s"marking must never shuffle the corpus on a window key:\n$p")
    // one fingerprint-keyed exchange is legitimate: the benchmark set's
    // own DISTINCT, which runs on the %97 slice only (eval-suite-sized);
    // with SMJ excluded above, no corpus rows can ride a window key
    val exchanges = "Exchange hashpartitioning\\([^)]*\\)".r.findAllIn(p).toList
    assert(exchanges.forall(e => e.contains("doc_id#") || e.contains("h1#")),
      s"unexpected exchange key:\n${exchanges.mkString("\n")}")
    assert(exchanges.count(_.contains("h1#")) <= 1,
      s"more than the benchmark-distinct may not shuffle on the fingerprint:\n${exchanges.mkString("\n")}")
  }

  test("q266_dsir_resample: allocation broadcasts; exchanges stay on doc/bucket/lang keys") {
    // q262's selection plan plus the draw: the O(langs) allocation joins
    // back as a broadcast (q259's pin applied to the selected subset),
    // and every hash exchange is a key the pipeline genuinely needs —
    // the (doc_id, b) feature agg, b-keyed bucket rollups, doc_id-keyed
    // score/selection joins, or the lang partitioning of the cumulative
    // window. Nothing corpus-sized collapses to one partition except the
    // O(docs) post-agg selection rank (the q249 posture).
    val p = planOf("q266_dsir_resample")
    assert(p.contains("BroadcastExchange"), s"allocation must broadcast:\n$p")
    assert(!p.contains("CartesianProduct"), s"no product joins:\n$p")
    val exchanges = "Exchange hashpartitioning\\([^)]*\\)".r.findAllIn(p).toList
    assert(exchanges.forall(e =>
        e.contains("doc_id#") || e.contains("b#") || e.contains("lang#")),
      s"unexpected exchange key:\n${exchanges.mkString("\n")}")
  }

  test("q265_perceptron_apply: weights enter as literals — no model join in the scoring plan") {
    // the q242 driver-artifact law for the linear model: after the
    // bounded training collects, the published confusion plan reads the
    // persisted sparse feature frame and folds literal weight arrays —
    // the corpus must never be weight-joined (no join of ANY kind in the
    // scoring plan), and the only exchanges are the per-doc margin agg
    // and the O(4)-row confusion agg
    // r18 #2: the weights come from the STAGED model artifact, so the
    // entry no longer trains (no 16-scan loop) and the serving plan reads
    // the sparse feature derivation exactly once — a persist would be
    // pure cache-write overhead now, so the old InMemoryTableScan pin is
    // retired. The feature derivation legitimately joins token-bucket
    // counts to labels ONCE (doc_id equi-join); the model itself must
    // still enter as a folded literal array, never as a join.
    val p = planOf("q265_perceptron_apply")
    assert(!p.contains("InMemoryTableScan"),
      s"scoring should read the feature derivation once, not persist it (r18 #2):\n$p")
    assert(p.contains("element_at"),
      s"weights must fold as a literal array into the margin agg:\n$p")
    val joins = "(BroadcastHashJoin|SortMergeJoin|ShuffledHashJoin)".r.findAllIn(p).toList
    assert(joins.lengthCompare(1) == 0,
      s"exactly one join allowed (the counts-to-labels feature attach), got ${joins.size}:\n$p")
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"),
      s"no product joins:\n$p")
    // legitimate exchanges: the feature-attach join + margin agg keyed by
    // doc_id, and the (label, pred) confusion agg on O(docs) post-agg rows
    val exchanges = "Exchange hashpartitioning\\([^)]*\\)".r.findAllIn(p).toList
    assert(exchanges.forall(e => e.contains("doc_id#") || e.contains("_groupingexpression#")),
      s"only doc_id-keyed and confusion-agg exchanges may shuffle:\n${exchanges.mkString("\n")}")
  }

  test("q250_kn_perlang: lang attach + all model tables broadcast; no sort-merge join") {
    // the (doc_id, lang) projection and the (langs x vocab^2)-bounded
    // count tables all broadcast back onto the bigram stream — the corpus
    // pays map work and ONE per-doc agg, exactly q244's economics
    val p = planOf("q250_kn_perlang")
    assert(!p.contains("SortMergeJoin") && !p.contains("CartesianProduct"),
      s"corpus-side rows must never shuffle for a model join:\n$p")
    assert("BroadcastHashJoin".r.findAllIn(p).size >= 4,
      s"expected the lang attach + model-table joins as broadcasts:\n$p")
  }

  test("q289_query_string_grammar: predicate + score stay in-row — no joins, no window") {
    // every new grammar production (slop, wildcards, regex, exists)
    // compiles to in-row HOFs over the token arrays: the plan is scan +
    // filter + projection + output sort. The ORACLE replays the slop law
    // as a positions self-join — the entry must never regress to one.
    val p = planOf("q289_query_string_grammar")
    assert(!p.contains("Join") && !p.contains("CartesianProduct"),
      s"query_string compilation must stay join-free:\n$p")
    assert(!p.contains("Window"), s"no window in a scan-filter plan:\n$p")
    assert(!p.contains("Generate"),
      s"positions come from in-row lambdas, never an explode:\n$p")
  }

  test("q290_reverse_nested: child grain collapses in a partial-agg'd distinct before the join") {
    val p = planOf("q290_reverse_nested")
    // the distinct (flag, orderkey) must partial-aggregate map-side
    // (child-grain rows collapse before the exchange)
    assert("HashAggregate".r.findAllIn(p).size >= 2,
      s"expected partial+final aggregation for the distinct:\n$p")
    assert(!p.contains("CartesianProduct"), s"no product joins:\n$p")
    // the parent join keys on the routing key — any join strategy is
    // acceptable (broadcast at fixture scale, shuffled at 100 TB), but
    // a window would mean the per-bucket fold regressed
    assert(!p.contains("Window"), s"no window — plain fold to O(buckets):\n$p")
  }

  test("q291_video_dhash_dedup: decode+hash map-only; ONE fingerprint-keyed exchange") {
    // the clip pipeline (encode-fabricate -> decode -> sample -> dHash)
    // must stay inside the partition (no join, no pre-window shuffle);
    // the dedup group is exactly one hash exchange on the compact
    // fingerprint key feeding the bucket-count window, plus the output
    // range sort — the q209 economics at the clip level
    val p = planOf("q291_video_dhash_dedup")
    assert(!p.contains("Join") && !p.contains("CartesianProduct"),
      s"clip hashing must not join:\n$p")
    assert(p.contains("Window"), s"expected the bucket-count window:\n$p")
    assert("Exchange hashpartitioning".r.findAllIn(p).size == 1,
      s"expected exactly the fingerprint-keyed window exchange:\n$p")
  }

  test("q253_perlang_terciles: rank partitions BY LANG — no single-partition stage anywhere") {
    // q253 is q249's deployed shape: the tercile rank window PARTITIONS
    // BY lang, so unlike q249 there is NO single-partition exchange in
    // the whole plan — not even tt's total, which is per-lang keyed in
    // the q250 chain. The scale-correct contrast pinned explicitly: a
    // planner or chain change reintroducing a global collapse fails here.
    val p = planOf("q253_perlang_terciles")
    assert(p.contains("Window"), s"expected the per-lang rank window:\n$p")
    assert(!p.contains("Exchange SinglePartition"),
      s"per-lang terciles must never collapse to one partition:\n$p")
    assert(!p.contains("SortMergeJoin") && !p.contains("CartesianProduct"),
      s"model joins must broadcast (q250's economics):\n$p")
    assert("BroadcastHashJoin".r.findAllIn(p).size >= 4,
      s"expected the lang attach + model-table joins as broadcasts:\n$p")
  }

  test("q251_heldout_gap_by_host: model tables broadcast onto the scored stream") {
    val p = planOf("q251_heldout_gap_by_host")
    assert(!p.contains("SortMergeJoin") && !p.contains("CartesianProduct"),
      s"scoring joins must broadcast, not shuffle the bigram stream:\n$p")
    assert("BroadcastHashJoin".r.findAllIn(p).size >= 3,
      s"expected cb/cw1/cw2 as broadcast left joins:\n$p")
  }

  test("q142 probe: arriving batch broadcasts; cached index never shuffles; prune gate in-plan") {
    import org.apache.spark.sql.functions._
    // the per-batch index probe (VERDICT r14 #2): the micro-batch side is
    // the broadcast build at any deployment scale, the corpus index
    // streams from its cached blocks with NO corpus-keyed exchange, and
    // the integer Jaccard prune gate sits inside the batch plan
    val shStatic = graft.text.Text
      .sizedShingles3(graft.text.TokenIndex.toks(spark, sf), col("ws"), "szs")
      .persist()
    try {
      shStatic.count()
      val batch = graft.core.Tables(spark, sf, "documents")
        .filter(col("doc_id") % 3 === 0)
      val p = graft.streaming.Streams.neardupProbe(batch, shStatic)
        .queryExecution.executedPlan.toString
      assert("""BroadcastHashJoin \[hn#\d+L?\], \[h#\d+L?\], Inner, BuildLeft""".r
        .findFirstIn(p).nonEmpty,
        s"index probe must broadcast the ARRIVING side (BuildLeft) against the cached index:\n$p")
      assert(!p.contains("hashpartitioning(h#"),
        s"the corpus index must never re-shuffle on the probe key:\n$p")
      assert(p.contains("* 6) >="),
        s"per-batch integer Jaccard prune gate missing from the plan:\n$p")
      // the round-15 plan-count fold: sizes ride the probe rows, so the
      // whole per-batch plan is ONE join + one aggregation — a second
      // join node means the post-agg size joins came back
      assert("Join".r.findAllIn(p).size == 1,
        s"per-batch plan must contain exactly the index-probe join:\n$p")
    } finally { shStatic.unpersist(); () }
  }

  test("q261 probe: benchmark set broadcasts; nothing corpus-sized shuffles") {
    import org.apache.spark.sql.functions._
    // the per-batch decontamination gate: the (static, eval-suite-sized)
    // benchmark set must be the broadcast side and the only exchange is
    // the batch-sized per-doc aggregation
    val bset = graft.text.TokenIndex.shingles3(spark, sf)
      .filter(col("doc_id") % 97 === 0).select(col("h")).distinct()
      .withColumn("hit", lit(1))
    val batch = graft.core.Tables(spark, sf, "documents")
      .filter(col("doc_id") % 3 === 0)
    val p = graft.streaming.Streams.decontamProbe(batch, bset)
      .queryExecution.executedPlan.toString
    assert(p.contains("BroadcastHashJoin"), s"benchmark probe must broadcast:\n$p")
    assert(!p.contains("SortMergeJoin"), s"no shuffled join in the gate:\n$p")
    // exactly one batch-sized exchange (the per-doc agg); the only other
    // permissible exchange is the h-keyed DISTINCT building the benchmark
    // set itself, which sits BELOW the broadcast and which the entry pays
    // once per run via persist, not per batch
    val exchanges = "Exchange hashpartitioning\\([^)]*\\)".r.findAllIn(p).toList
    assert(exchanges.count(_.contains("doc_id#")) == 1,
      s"expected exactly one per-doc agg exchange:\n${exchanges.mkString("\n")}")
    assert(exchanges.forall(e => e.contains("doc_id#") || e.contains("h#")),
      s"unexpected shuffle in the gate:\n${exchanges.mkString("\n")}")
  }

  test("q274 gate: model artifacts broadcast; every per-batch exchange is batch-keyed") {
    import org.apache.spark.sql.functions._
    // the per-batch funnel gate (VERDICT r16 #5): every model artifact
    // (KN count tables, the kernel decisions, the three per-doc signal
    // frames) enters broadcast-side; the only hash exchanges are the
    // batch's own per-doc / per-(doc, feature) aggregations — zero
    // corpus-keyed exchanges per batch at any deployment scale
    val gm = graft.text.Funnel.gateModels(spark, sf)
    val cb = spark.read.parquet(s"${gm.knDir}/cb")
    val cw1 = spark.read.parquet(s"${gm.knDir}/cw1")
    val cw2 = spark.read.parquet(s"${gm.knDir}/cw2")
    val tt = spark.read.parquet(s"${gm.knDir}/tt")
    val batch = graft.core.Tables(spark, sf, "documents")
      .filter(col("doc_id") % 3 === 0)
    val p = graft.text.Funnel.gateVerdicts(batch, gm.posteriors, gm.wsum,
        cb, cw1, cw2, tt)
      .queryExecution.executedPlan.toString
    assert(p.contains("BroadcastHashJoin"), s"model tables must broadcast:\n$p")
    assert(!p.contains("SortMergeJoin"), s"no shuffled join in the gate:\n$p")
    val exchanges = "Exchange hashpartitioning\\([^)]*\\)".r.findAllIn(p).toList
    assert(exchanges.forall(_.contains("doc_id#")),
      s"non-batch-keyed shuffle in the gate:\n${exchanges.mkString("\n")}")
    spark.catalog.clearCache()
  }

  test("q01_scan: whole-stage codegen covers the scan (AQE-final plan)") {
    // AQE keeps the plan speculative until execution; materialize first,
    // then inspect the finalized physical plan.
    val df = SparkEntry.queries("q01_scan")(spark, sf)
    df.collect()   // df.write would clone the QueryExecution; collect finalizes this one
    val p = df.queryExecution.executedPlan.toString
    // codegen spans render as "*(n)" prefixes in the finalized plan
    assert(p.contains("WholeStageCodegen") || p.contains("*("), s"no codegen span:\n$p")
  }

  test("DocSync.foldIncrement: one rowKey-keyed exchange, no Generate, no join") {
    import spark.implicits._
    import graft.model.ChangeLog.{Cell, ChangeEvent}
    val events = (0 until 60).map { i =>
      if (i % 7 == 0) ChangeEvent("DELETE", s"k${i % 5}", i, new java.sql.Timestamp(0), null)
      else ChangeEvent("PUT", s"k${i % 5}", i, new java.sql.Timestamp(0),
        Seq(Cell("f", s"q${i % 3}", i.toString)))
    }
    val log = spark.createDataset(spark.sparkContext.parallelize(events, 3)).toDF()
    val p = graft.sync.DocSync.foldIncrement(log).queryExecution.executedPlan.toString
    val exchanges = "\\bExchange .*".r.findAllIn(p).toList
    assert(exchanges.size == 1 && exchanges.head.startsWith("Exchange hashpartitioning(rowKey#"),
      s"the fold must shuffle once, by rowKey:\n$p")
    assert(!p.contains("Generate"), s"no per-cell rows:\n$p")
    assert(!p.contains("Join"), s"no join:\n$p")
  }
}
