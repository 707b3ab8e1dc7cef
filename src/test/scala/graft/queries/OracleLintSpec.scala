package graft.queries

import org.scalatest.funsuite.AnyFunSuite

/** Bare-decimal-literal audit over every registered oracle AND twin
  * (VERDICT r14 #4, the q244/q247 parity class made systemic): a bare
  * `0.75` parses as DECIMAL in both SQL dialects while the Column API's
  * `lit(0.75)` is double — Spark decimal arithmetic quantizes at scale
  * ~6, and DuckDB's double→BIGINT CAST rounds where Spark truncates, so
  * the drift surfaces as a one-digit hash mismatch only when a boundary
  * row eventually appears. The fix is exponent notation (`0.75e0`, which
  * parses as double everywhere); this audit makes the choice explicit:
  * every bare decimal must either become e-notation or be consciously
  * added to the EXACT allowlist below.
  *
  * The allowlist is the grandfathered set, each entry parity-proven (the
  * whole registry is oracle-green at sf0.01 and twin-green in
  * SqlParitySpec at the time of grandfathering) and in double-safe
  * context (comparison against a double expression, or arithmetic with a
  * double operand — decimal→double conversion is the same nearest-double
  * in both engines; the hazard is decimal arithmetic that STAYS decimal,
  * or decimal/double results flowing into CAST/ROUND). It is compared
  * EXACTLY: a new bare decimal in an allowlisted entry fails, and a
  * stale allowlist row (entry cleaned up or renamed) fails too, so the
  * list can neither leak nor rot.
  */
class OracleLintSpec extends AnyFunSuite {

  /** entry -> exact set of distinct bare decimals its oracle+twin carry. */
  private val grandfathered: Map[String, Set[String]] = Map(
    "q08_bool" -> Set("0.02", "0.05"),
    "q24_percentile" -> Set("0.5", "0.9"),
    "q109_percentiles_bucket" -> Set("0.25", "0.50", "0.90"),
    "q105_bucket_script" -> Set("0.2"),
    "q46_math_funcs" -> Set("0.05"),
    "q48_array_funcs" -> Set("0.0"),
    "q87_geo_distance" -> Set("10.0", "100.0", "180.0", "20.0", "6371.0088", "90.0"),
    // q281 splices q87's grandfathered lat/lon/dist fragments verbatim;
    // its own bucket bounds (0.0/2000.0/...) sit inside CAST(... AS
    // DOUBLE) CASE arms and the double `dist` comparisons — double-safe
    "q281_geo_distance_agg" -> Set("0.0", "10.0", "100.0", "10000.0", "180.0",
      "20.0", "2000.0", "5000.0", "6371.0088", "90.0"),
    // q280/q283's boosts and field weights sum inside CAST(... AS
    // DOUBLE) — the whole score expression is pinned to double
    // before ROUND
    "q280_query_string" -> Set("0.0", "0.5", "1.0", "2.0"),
    // q286 = q280's score CASEs + the min_score bar (4.0): integer-valued
    // doubles, exact in both engines — same parity argument as q280
    "q286_min_score" -> Set("0.0", "0.5", "1.0", "2.0", "4.0"),
    "q283_query_string_fields" -> Set("0.0", "1.0", "2.0"),
    // q289's CASE arms (1.0/0.0) sum to exact small integers and CAST to
    // DOUBLE before ROUND; 23.0 compares against a BIGINT doc_id — all
    // double-safe, the q280/q286 parity argument
    "q289_query_string_grammar" -> Set("0.0", "1.0", "23.0"),
    "q88_geo_bbox" -> Set("100.0", "180.0", "90.0"),
    "q103_geo_centroid" -> Set("100.0", "180.0", "90.0"),
    "q116_geo_bounds" -> Set("100.0", "180.0", "90.0"),
    "q189_geo_polygon" -> Set("10.03", "100.0", "120.06", "180.0", "20.01", "30.02",
      "30.05", "5.01", "55.03", "60.07", "70.08", "80.04", "90.0"),
    "q194_geo_shape" -> Set("1.0", "10.0", "100.0", "180.0", "90.0"),
    "q200_geo_shape_rings" -> Set("0.52", "0.6", "0.8", "1.0", "1.53", "10.0",
      "10.02", "10.03", "100.0", "120.06", "140.03", "150.01", "180.0", "2.01",
      "20.01", "20.05", "30.02", "30.05", "45.04", "5.01", "50.06", "55.03",
      "60.02", "60.07", "70.04", "70.08", "80.04", "83.02", "83.51", "84.55", "90.0"),
    "q130_moving_percentiles" -> Set("0.5"),
    "q131_mad" -> Set("0.5"),
    "q164_moving_models" -> Set("0.1", "0.3", "0.7", "0.9"),
    "q190_holt_winters" -> Set("0.1", "0.3", "0.7", "0.9", "49.0", "7.0"),
    "q120_multi_match" -> Set("0.3"),
    "q122_function_score_decay" -> Set("2.0", "365.0", "86400000000.0"),
    "q159_phrase_suggester" -> Set("1.0"),
    "q138_constant_score" -> Set("1.5"),
    "q124_search_after" -> Set("150000.0"),
    "q150_field_value_factor" -> Set("0.1", "2.0"),
    "q153_common_terms" -> Set("0.5"),
    "q173_rank_eval" -> Set("1.0", "5.0"),
    "q174_explain" -> Set("0.25", "0.5", "0.75", "1.2", "2.2"),
    "q142_stream_neardup_ingest" -> Set("0.2"),
    "q61_neardup_jaccard" -> Set("0.2"),
    "q64_bm25" -> Set("0.25", "0.5", "0.75", "1.2", "2.2"),
    "q69_quality" -> Set("1.0", "100.0"),
    "q98_boosting" -> Set("0.5", "1.0"),
    "q99_dis_max" -> Set("0.3"),
    "q180_dup_source_matrix" -> Set("0.2"),
    "q90_dedup_clusters" -> Set("0.2"),
    // q268 splices q90's grandfathered pairCtes verbatim (same 0.2, same
    // double-safe comparison context: CAST(... AS DOUBLE)/... >= 0.2)
    "q268_quality_keeper" -> Set("0.2"),
    "q96_quality_filter" -> Set("0.03"),
    "q154_curation_report" -> Set("0.03", "0.2"),
    "q179_mix_weights" -> Set("0.5"),
    "q252_curation_funnel_v2" -> Set("0.03"),
    // q274 IS q252's oracle text, one copy (the ingest-time gate hashes
    // against the funnel-at-rest law) — same grandfathered 0.03
    "q274_stream_funnel_gate" -> Set("0.03"),
    // q275 IS q90's closure text, one copy (clusters off the maintained
    // pair store hash against the at-rest law) — same grandfathered 0.2
    "q275_stream_dedup_clusters" -> Set("0.2"),
    // q276 splices q224's grandfathered perdoc CTE verbatim (the same
    // 0.03 stopword-ratio gate in the same double comparison context)
    "q276_funnel_yield_by_host" -> Set("0.03"),
    // q279 composes q252's funnel CTEs (0.03) with q90's pair law (0.2)
    // — both fragments are the one shared, grandfathered copy
    "q279_shipped_corpus" -> Set("0.03", "0.2"),
    "q224_curation_funnel" -> Set("0.03"),
    "q62_vector_stats" -> Set("1.0"),
    "q72_embed_neardup" -> Set("0.4"),
    "q169_int8_quantize" -> Set("0.0", "127.0"))

  test("every registered oracle+twin matches the exact bare-decimal allowlist") {
    val found: Map[String, Set[String]] = graft.SparkEntry.allEntries.flatMap { e =>
      val ds = (e.oracle.toList ++ e.sparkSql.toList)
        .flatMap(Dialect.bareDecimals).toSet
      if (ds.nonEmpty) Some(e.name -> ds) else None
    }.toMap
    val newOffenders = found.collect {
      case (n, ds) if ds != grandfathered.getOrElse(n, Set.empty) =>
        s"$n: found ${ds.toSeq.sorted.mkString(",")} vs allowed " +
          s"${grandfathered.getOrElse(n, Set.empty).toSeq.sorted.mkString(",")}"
    }
    assert(newOffenders.isEmpty,
      "bare decimal literal(s) outside the grandfathered allowlist — use exponent " +
        "notation (0.75e0) or consciously extend OracleLintSpec:\n  " +
        newOffenders.mkString("\n  "))
    val stale = grandfathered.keySet.filterNot(found.contains)
    assert(stale.isEmpty,
      s"stale allowlist rows (entry gone or cleaned up — remove them): ${stale.mkString(", ")}")
  }

  test("no explicit twin repeats the dialect bridge") {
    // An `Entry.sqlTwin` exists for a STRUCTURAL gap the bridge cannot
    // derive; one that equals the bridge's own output (whitespace
    // aside) is a second hand-kept copy of the oracle that drifts
    // silently when the oracle changes. Delete it and let the bridge
    // derive the twin.
    def norm(sql: String): String = sql.replaceAll("\\s+", " ").trim
    val repeats = for {
      e <- graft.SparkEntry.allEntries if !graft.SparkEntry.bridgedTwins(e.name)
      twin <- e.sparkSqlOverride
      oracle <- e.oracle
      bridged <- scala.util.Try(Dialect.duckToSpark(oracle)).toOption
      if norm(bridged) == norm(twin)
    } yield e.name
    assert(repeats.isEmpty,
      s"explicit sqlTwin equals Dialect.duckToSpark(oracle) — drop the twin: ${repeats.mkString(", ")}")
  }

  test("explicit twins stay at or below the ratchet (51)") {
    // Each hand twin is a second copy of its oracle that drifts when the
    // oracle changes; 19 were once kept for gaps Spark 4.1 does not have
    // (DialectSemanticsSpec). Lower the bound when a twin goes; raise it
    // only for a gap the bridged twin really fails on.
    val explicit = graft.SparkEntry.allEntries.filter(_.sparkSqlOverride.isDefined).map(_.name)
    assert(explicit.size <= 51,
      s"${explicit.size} entries declare an explicit sqlTwin (at most 51): run the bridged " +
        "oracle through spark.sql first — Dialect.duckToSpark(oracle), then " +
        "`testOnly graft.queries.SqlParitySpec -- -z <entry>` without the twin; declare " +
        s".sqlTwin only if that fails. Explicit: ${explicit.sorted.mkString(", ")}")
  }

  test("the lint flags the pre-fix q244 fragment (regression self-test)") {
    // the exact round-14 defect text this audit exists to catch
    val preFix = "GREATEST(CAST(cab AS DOUBLE) - 0.75, 0.0) / c1 + ((0.75 * n1p) / c1)"
    assert(Dialect.bareDecimals(preFix).sorted == List("0.0", "0.75", "0.75"))
    // and passes its post-fix spelling
    val postFix = "GREATEST(CAST(cab AS DOUBLE) - 0.75e0, 0.0e0) / c1"
    assert(Dialect.bareDecimals(postFix).isEmpty)
    // the leading-dot and trailing-dot spellings are DECIMAL too — both
    // parse in both dialects, so both must fire
    assert(Dialect.bareDecimals("WHERE ratio >= .03") == List(".03"))
    assert(Dialect.bareDecimals("SELECT 5. AS x") == List("5."))
    assert(Dialect.bareDecimals("SELECT .5e0 AS x, 5.e0 AS y").isEmpty)
  }

  test("masking: literals and exponent forms never fire; structure survives") {
    assert(Dialect.bareDecimals("SELECT 'v1.5 and 3.14' AS s, 0.75e0 AS x").isEmpty)
    assert(Dialect.bareDecimals("SELECT x FROM t WHERE r >= 0.03") == List("0.03"))
    // '' escape inside a literal must not desync the walk
    assert(Dialect.bareDecimals("SELECT 'it''s 2.5' AS s, 1.25 AS y") == List("1.25"))
  }
}
