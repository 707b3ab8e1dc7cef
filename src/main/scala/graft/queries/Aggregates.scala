package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window

import graft.core.Tables

/** Aggregations (ES aggs analogs) and window functions — SURVEY.md Q21-Q40.
  *
  * All group-bys are Tungsten hash aggregates with map-side partial
  * aggregation — the shard-reduce shape (ES `terms` agg) that scales
  * linearly with executors. Approximate aggs (cardinality ~ HLL,
  * percentiles ~ TDigest) are declared through exact twins for the oracle
  * plus bench-only approx variants (engine-specific sketch outputs are
  * never hash-checked).
  */
object Aggregates {

  private def T(s: SparkSession, dir: String, n: String): DataFrame = Tables(s, dir, n)

  val entries: Seq[Entry] = Seq(

    Entry.sql("q21_terms_agg",
      """SELECT l_returnflag, l_linestatus, COUNT(*) AS n,
        |  ROUND(SUM(l_quantity), 4) AS sum_qty,
        |  ROUND(SUM(l_extendedprice * (1 - l_discount)), 4) AS revenue
        |FROM lineitem GROUP BY l_returnflag, l_linestatus
        |ORDER BY l_returnflag, l_linestatus""".stripMargin),

    Entry.sql("q22_stats_agg",
      """SELECT o_orderpriority, COUNT(*) AS n,
        |  ROUND(SUM(o_totalprice), 4) AS sum_price,
        |  ROUND(AVG(o_totalprice), 6) AS avg_price,
        |  MIN(o_totalprice) AS min_price, MAX(o_totalprice) AS max_price
        |FROM orders GROUP BY o_orderpriority ORDER BY o_orderpriority""".stripMargin),

    Entry.sql("q23_cardinality",
      """SELECT l_returnflag, COUNT(DISTINCT l_partkey) AS n_parts
        |FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag""".stripMargin),

    // HLL sketch variant (ES `cardinality`): bench-only, rel-err asserted in tests
    Entry.benchOnly("q23_cardinality_approx") { (s, d) =>
      T(s, d, "lineitem").groupBy(col("l_returnflag"))
        .agg(approx_count_distinct(col("l_partkey")).as("n_parts_approx"))
        .orderBy(col("l_returnflag"))
    },

    Entry.sql("q24_percentile",
      """SELECT o_orderpriority,
        |  ROUND(quantile_cont(o_totalprice, 0.5), 4) AS p50,
        |  ROUND(quantile_cont(o_totalprice, 0.9), 4) AS p90
        |FROM orders GROUP BY o_orderpriority ORDER BY o_orderpriority""".stripMargin),

    // TDigest-analog sketch variant: bench-only
    Entry.benchOnly("q24_percentile_approx") { (s, d) =>
      T(s, d, "orders").groupBy(col("o_orderpriority"))
        .agg(percentile_approx(col("o_totalprice"), lit(0.5), lit(10000)).as("p50_approx"))
        .orderBy(col("o_orderpriority"))
    },

    Entry.sql("q25_histogram",
      """SELECT CAST(FLOOR(l_quantity / 10) * 10 AS BIGINT) AS bucket, COUNT(*) AS n
        |FROM lineitem GROUP BY 1 ORDER BY 1""".stripMargin),

    Entry.sql("q26_date_histogram",
      """SELECT CAST(date_trunc('day', ts) AS DATE) AS day, COUNT(*) AS n
        |FROM events GROUP BY 1 ORDER BY 1""".stripMargin),

    Entry.sql("q27_range_agg",
      """SELECT CASE WHEN o_totalprice < 1000 THEN 'low'
        |            WHEN o_totalprice < 10000 THEN 'mid'
        |            ELSE 'high' END AS bucket, COUNT(*) AS n
        |FROM orders GROUP BY 1 ORDER BY 1""".stripMargin),

    Entry("q28_filters_agg",
      """SELECT COUNT(*) FILTER (WHERE event_type = 'click') AS n_click,
        |  COUNT(*) FILTER (WHERE event_type = 'view') AS n_view,
        |  COUNT(*) FILTER (WHERE event_type = 'purchase') AS n_purchase
        |FROM events""".stripMargin) { (s, d) =>
      T(s, d, "events").agg(
        count(when(col("event_type") === "click", 1)).as("n_click"),
        count(when(col("event_type") === "view", 1)).as("n_view"),
        count(when(col("event_type") === "purchase", 1)).as("n_purchase"))
    },

    Entry.sql("q29_distinct",
      "SELECT DISTINCT o_orderstatus, o_orderpriority FROM orders ORDER BY 1, 2"),

    Entry.sql("q30_rollup",
      """SELECT l_returnflag, l_linestatus,
        |  CAST(GROUPING(l_returnflag) AS INT) AS g1, CAST(GROUPING(l_linestatus) AS INT) AS g2,
        |  COUNT(*) AS n, ROUND(SUM(l_quantity), 4) AS sum_qty
        |FROM lineitem GROUP BY ROLLUP(l_returnflag, l_linestatus)
        |ORDER BY g1, g2, l_returnflag NULLS FIRST, l_linestatus NULLS FIRST""".stripMargin),

    // Q31 plan-invariance: the Q21 aggregate computed through an explicit
    // repartition (different partial-agg grouping) must match the same oracle.
    Entry("q31_partial_agg_invariance",
      """SELECT l_returnflag, l_linestatus, COUNT(*) AS n
        |FROM lineitem GROUP BY l_returnflag, l_linestatus
        |ORDER BY l_returnflag, l_linestatus""".stripMargin) { (s, d) =>
      T(s, d, "lineitem").repartition(7, col("l_partkey"))
        .groupBy(col("l_returnflag"), col("l_linestatus"))
        .agg(count(lit(1)).as("n"))
        .orderBy(col("l_returnflag"), col("l_linestatus"))
    },

    // ES percentile_ranks (inverse percentile): fraction of values at or
    // below given thresholds — one conditional-count pass, no sort.
    Entry.sql("q83_percentile_ranks",
      """SELECT o_orderpriority,
        |  ROUND(SUM(CASE WHEN o_totalprice <= 50000 THEN 1 ELSE 0 END) / CAST(COUNT(*) AS DOUBLE), 6) AS pr_50k,
        |  ROUND(SUM(CASE WHEN o_totalprice <= 150000 THEN 1 ELSE 0 END) / CAST(COUNT(*) AS DOUBLE), 6) AS pr_150k
        |FROM orders GROUP BY 1 ORDER BY 1""".stripMargin),

    // ES terms agg with order: {sub_agg: desc} — buckets ranked by a
    // sub-aggregation value, not by key or doc count.
    Entry.sql("q84_terms_by_subagg",
      """SELECT c_mktsegment, COUNT(*) AS n, ROUND(AVG(c_acctbal), 6) AS avg_bal
        |FROM customer GROUP BY 1
        |ORDER BY avg_bal DESC, c_mktsegment""".stripMargin),

    // ES adjacency_matrix analog at the entity level: named filters
    // (purchase/click/view) -> per-user presence flags via one bool_or
    // agg, then one count per flag combination. Two map-side-combinable
    // hash aggs; the intersection counts ES computes per doc-set fall out
    // of the flag-combination counts without any pairwise work.
    Entry.sql("q95_adjacency_matrix",
      """WITH f AS (
        |  SELECT user_id,
        |    MAX(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END) AS has_p,
        |    MAX(CASE WHEN event_type = 'click' THEN 1 ELSE 0 END) AS has_c,
        |    MAX(CASE WHEN event_type = 'view' THEN 1 ELSE 0 END) AS has_v
        |  FROM events GROUP BY user_id)
        |SELECT has_p, has_c, has_v, COUNT(*) AS n_users
        |FROM f GROUP BY 1, 2, 3 ORDER BY has_p, has_c, has_v""".stripMargin),

    // ES max_bucket / avg_bucket pipeline aggs: sibling statistics OVER
    // the buckets of a date histogram — the histogram is one hash agg,
    // the sibling stats a second tiny agg over bucket rows (never the
    // source rows). Timestamps project as epoch micros on both sides
    // (the driver's schema compare rejects raw TIMESTAMP columns).
    Entry("q100_bucket_stats",
      """WITH h AS (SELECT date_trunc('day', ts) AS day, COUNT(*) AS n
        |           FROM events GROUP BY 1)
        |SELECT epoch_us(day) AS max_day, n AS max_n,
        |       (SELECT ROUND(AVG(n), 6) FROM h) AS avg_n
        |FROM h ORDER BY n DESC, day LIMIT 1""".stripMargin) { (s, d) =>
      val h = T(s, d, "events")
        .groupBy(date_trunc("day", col("ts")).as("day"))
        .agg(count(lit(1)).as("n"))
      // ONE lazy plan with h under both branches: the two subtrees are
      // identical, so ReuseExchange serves the sibling-avg from the same
      // shuffle the max pick reads — no persist (whose block would leak
      // past the entry) and no eager collect.
      val avgN = h.agg(round(avg(col("n")), 6).as("avg_n"))
      h.orderBy(col("n").desc, col("day")).limit(1)
        .crossJoin(broadcast(avgN))
        .select(unix_micros(col("day")).as("max_day"), col("n").as("max_n"),
                col("avg_n"))
    },

    // ES percentiles_bucket pipeline agg: percentiles OVER the buckets of
    // a date histogram — the histogram is one hash agg; the percentile
    // runs over O(buckets) rows (30 days), never source rows. Both
    // engines interpolate linearly over exact integer counts, so the
    // result doubles are identical (same contract as q24).
    Entry.sql("q109_percentiles_bucket",
      """WITH h AS (SELECT date_trunc('day', ts) AS day, COUNT(*) AS n
        |           FROM events GROUP BY 1)
        |SELECT CAST(COUNT(*) AS BIGINT) AS n_buckets,
        |  ROUND(quantile_cont(n, 0.25), 4) AS p25,
        |  ROUND(quantile_cont(n, 0.50), 4) AS p50,
        |  ROUND(quantile_cont(n, 0.90), 4) AS p90
        |FROM h""".stripMargin),

    // ES diversified_sampler agg: cap the per-"diversity field" (source)
    // contribution BEFORE aggregating, so one dominant source cannot
    // swamp the downstream agg. Deterministic sample: top-3 per source by
    // (n_chars DESC, doc_id) — a per-source window, shuffle keyed on the
    // diversity field, then the per-lang agg over the bounded sample.
    Entry.sql("q110_diversified_sampler",
      """WITH ranked AS (
        |  SELECT doc_id, lang, source, n_chars,
        |         row_number() OVER (PARTITION BY source
        |                            ORDER BY n_chars DESC, doc_id) AS rn
        |  FROM documents)
        |SELECT lang, COUNT(*) AS n, CAST(SUM(n_chars) AS BIGINT) AS chars
        |FROM ranked WHERE rn <= 3
        |GROUP BY 1 ORDER BY lang""".stripMargin),

    // ES matrix_stats analog: per-group second-order statistics between
    // two metrics (covariance + correlation). One map-side-combinable
    // hash agg — Spark's covar/corr carry (n, mean, co-moment) partials,
    // so the shuffle is O(groups), never O(rows).
    Entry.sql("q94_matrix_stats",
      """SELECT l_returnflag, COUNT(*) AS n,
        |  ROUND(AVG(l_quantity), 6) AS mean_q,
        |  ROUND(AVG(l_extendedprice), 4) AS mean_p,
        |  ROUND(covar_pop(l_quantity, l_extendedprice), 2) AS cov_qp,
        |  ROUND(corr(l_quantity, l_extendedprice), 6) AS corr_qp
        |FROM lineitem GROUP BY 1 ORDER BY 1""".stripMargin),

    // Salted-aggregation invariance (SURVEY §4.3 skew posture): the
    // two-phase hot-key rewrite must hash-match the direct aggregation's
    // oracle — salting is a plan property, never a results property.
    Entry("q79_salted_agg",
      """SELECT o_orderpriority AS key, COUNT(*) AS n,
        |  ROUND(SUM(o_totalprice), 4) AS total
        |FROM orders GROUP BY 1 ORDER BY 1""".stripMargin) { (s, d) =>
      Skew.saltedAgg(T(s, d, "orders"), col("o_orderpriority"),
          saltBy = col("o_orderkey"), numSalts = 8)(
        partial = Seq(count(lit(1)).as("pn"), sum(col("o_totalprice")).as("pt")),
        combine = Seq(sum(col("pn")).as("n"), round(sum(col("pt")), 4).as("total")))
        .orderBy(col("key"))
    },

    // ES pipeline aggs (cumulative_sum + derivative over a date_histogram):
    // a window over the bucketed aggregate — partial agg first, then one
    // tiny window pass over the (days) buckets, never over raw events.
    Entry("q78_pipeline_agg",
      """WITH h AS (
        |  SELECT CAST(date_trunc('day', ts) AS DATE) AS day, COUNT(*) AS n
        |  FROM events GROUP BY 1)
        |SELECT day, n,
        |  CAST(SUM(n) OVER (ORDER BY day) AS BIGINT) AS cum,
        |  CAST(n - lag(n) OVER (ORDER BY day) AS BIGINT) AS delta
        |FROM h ORDER BY day""".stripMargin) { (s, d) =>
      val w = Window.orderBy(col("day"))
      T(s, d, "events")
        .groupBy(date_trunc("day", col("ts")).cast("date").as("day"))
        .agg(count(lit(1)).as("n"))
        .select(col("day"), col("n"),
                sum(col("n")).over(w.rowsBetween(Window.unboundedPreceding, 0)).as("cum"),
                (col("n") - lag(col("n"), 1).over(w)).cast("bigint").as("delta"))
        .orderBy(col("day"))
    },

    // ES weighted_avg metric agg: quantity-weighted mean price per flag.
    // Both weighted sums run in DECIMAL (the doubles carry exactly 2
    // decimals, so the cast is lossless and the sums are EXACT in both
    // engines regardless of summation order); only the final division is
    // floating-point, on identical inputs -> identical doubles.
    Entry.sql("q104_weighted_avg",
      """SELECT l_returnflag,
        |  ROUND(CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2)) * CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE)
        |        / CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE), 6) AS wavg_price
        |FROM lineitem GROUP BY 1 ORDER BY 1""".stripMargin),

    // ES bucket_script + bucket_selector pipeline aggs: a per-bucket
    // derived metric computed FROM other sub-aggregations of the same
    // bucket (error share of the day's events), then a HAVING-style
    // bucket filter on the derived value (threshold 0.2 keeps ~half the buckets at both fixture SFs). Conditional counts ride the
    // same single hash agg as the bucket count — one pass over events,
    // then bucket-level arithmetic over O(buckets) rows.
    Entry.sql("q105_bucket_script",
      """WITH h AS (
        |  SELECT CAST(date_trunc('day', ts) AS DATE) AS day, COUNT(*) AS n,
        |         COUNT(CASE WHEN event_type = 'error' THEN 1 END) AS n_err
        |  FROM events GROUP BY 1)
        |SELECT day, n, n_err, ROUND(CAST(n_err AS DOUBLE) / n, 6) AS err_share
        |FROM h WHERE CAST(n_err AS DOUBLE) / n > 0.2
        |ORDER BY day""".stripMargin),

    // ES serial_diff (period 7) + moving_fn pipeline aggs: lag-k delta and
    // a trailing-window max over date-histogram buckets. The window runs
    // over O(buckets) rows (days), never raw events — the single
    // unpartitioned window is bounded by the histogram's bucket count,
    // not corpus size (same posture as q78).
    Entry.sql("q106_serial_diff",
      """WITH h AS (
        |  SELECT CAST(date_trunc('day', ts) AS DATE) AS day, COUNT(*) AS n
        |  FROM events GROUP BY 1)
        |SELECT day, n,
        |  CAST(n - lag(n, 7) OVER (ORDER BY day) AS BIGINT) AS diff7,
        |  CAST(MAX(n) OVER (ORDER BY day ROWS BETWEEN 6 PRECEDING AND CURRENT ROW) AS BIGINT) AS max7
        |FROM h ORDER BY day""".stripMargin),

    // ES derivative pipeline agg (+ the chained second derivative ES
    // computes when a derivative feeds a derivative): first differences
    // over the date-histogram's O(buckets) rows — lag(1) windows on
    // bucket rows, never source rows (same posture as q106's serial_diff,
    // which is this operator at lag 7).
    Entry.sql("q151_derivative",
      """WITH h AS (
        |  SELECT CAST(date_trunc('day', ts) AS DATE) AS day, COUNT(*) AS n
        |  FROM events GROUP BY 1)
        |SELECT day, n,
        |  CAST(n - lag(n, 1) OVER (ORDER BY day) AS BIGINT) AS deriv,
        |  CAST((n - lag(n, 1) OVER (ORDER BY day))
        |       - (lag(n, 1) OVER (ORDER BY day) - lag(n, 2) OVER (ORDER BY day))
        |       AS BIGINT) AS deriv2
        |FROM h ORDER BY day""".stripMargin),

    // ES extended_stats_bucket pipeline agg: the q111 moment family
    // computed over the sibling histogram's BUCKET VALUES — a second
    // tiny agg over O(buckets) rows collapsing to one row; source rows
    // are touched once, by the histogram itself.
    Entry.sql("q152_extended_stats_bucket",
      """WITH h AS (
        |  SELECT CAST(date_trunc('day', ts) AS DATE) AS day, COUNT(*) AS n
        |  FROM events GROUP BY 1)
        |SELECT COUNT(*) AS n_buckets, CAST(SUM(n) AS BIGINT) AS sum_n,
        |  ROUND(AVG(n), 6) AS avg_n,
        |  ROUND(var_pop(n), 6) AS var_n,
        |  ROUND(stddev_pop(n), 6) AS std_n,
        |  ROUND(AVG(n) + 2 * stddev_pop(n), 6) AS std_upper,
        |  ROUND(AVG(n) - 2 * stddev_pop(n), 6) AS std_lower
        |FROM h""".stripMargin),

    // ES extended_stats: one hash agg emitting the full moment family —
    // count/sum/avg/sum_of_squares/variance/std_deviation plus the
    // ±2σ std bounds ES reports. All partials are (sum, sum_sq, count)
    // triples, map-side-combinable; l_quantity is O(50) so ROUND(.,6) is
    // stable across engine summation orders.
    Entry.sql("q111_extended_stats",
      """SELECT l_returnflag, COUNT(*) AS n,
        |  ROUND(SUM(l_quantity), 6) AS sum_q,
        |  ROUND(AVG(l_quantity), 6) AS avg_q,
        |  ROUND(SUM(l_quantity * l_quantity), 6) AS sum_sq,
        |  ROUND(var_pop(l_quantity), 6) AS var_q,
        |  ROUND(stddev_pop(l_quantity), 6) AS std_q,
        |  ROUND(AVG(l_quantity) + 2 * stddev_pop(l_quantity), 6) AS std_upper,
        |  ROUND(AVG(l_quantity) - 2 * stddev_pop(l_quantity), 6) AS std_lower
        |FROM lineitem GROUP BY 1 ORDER BY 1""".stripMargin),

    // ES scripted_metric: a user-authored map/combine/reduce aggregation.
    // The engine's surface for this is a typed Aggregator
    // (graft.functions.GeoMean — SURVEY.md §2.3 UDAF row): map = per-row
    // (ln x, 1) accumulate, combine = pair merge, reduce = exp(sum/count);
    // the two-scalar buffer pre-reduces map-side exactly like the builtin
    // aggs. The oracle states the same math declaratively.
    // The `value > 0` guard matches the map script's skip rule (GeoMean
    // drops non-positives — a geometric mean is defined over positive
    // reals) AND keeps the oracle runnable at every SF: sf0.1 carries
    // value = 0 rows, where DuckDB's LN(0) is a hard error while Spark's
    // returns null — without the shared guard the two engines would
    // diverge exactly where the data stops being benign.
    Entry("q112_scripted_metric",
      """SELECT event_type, COUNT(*) AS n,
        |  ROUND(EXP(AVG(LN(value))), 6) AS geo_mean
        |FROM events WHERE value > 0 GROUP BY 1 ORDER BY 1""".stripMargin) { (s, d) =>
      val gm = udaf(graft.functions.GeoMean, org.apache.spark.sql.Encoders.scalaDouble)
      T(s, d, "events").filter(col("value") > 0)
        .groupBy(col("event_type"))
        .agg(count(lit(1)).as("n"),
             round(gm(col("value")), 6).as("geo_mean"))
        .orderBy(col("event_type"))
    },

    // ES date_range agg: explicit half-open date buckets with open ends
    // (*-1996, 1996-1999, 1999-*). A CASE over the scan — one hash agg,
    // no join; at scale the CASE folds into the scan's projection.
    Entry.sql("q114_date_range_agg",
      """SELECT CASE WHEN o_orderdate < TIMESTAMP '1996-01-01' THEN '*-1996'
        |            WHEN o_orderdate < TIMESTAMP '1999-01-01' THEN '1996-1999'
        |            ELSE '1999-*' END AS bucket,
        |       COUNT(*) AS n, ROUND(SUM(o_totalprice), 6) AS sum_price
        |FROM orders GROUP BY 1 ORDER BY 1""".stripMargin),

    // ES bucket_sort pipeline agg: rank the terms-agg buckets by a metric
    // and page into them (from=3, size=5). The paging runs over O(buckets)
    // rows — the nation terms agg output — never the source rows, so the
    // global sort+offset is bounded by bucket count (same posture as the
    // other pipeline aggs, q78/q100/q106).
    Entry.sql("q115_bucket_sort",
      """SELECT c_nationkey, COUNT(*) AS n, ROUND(AVG(c_acctbal), 6) AS avg_bal
        |FROM customer GROUP BY 1
        |ORDER BY n DESC, c_nationkey LIMIT 5 OFFSET 3""".stripMargin),

    // ES auto_date_histogram: the interval is CHOSEN FROM THE DATA — the
    // smallest rung of the day/month/year ladder that keeps the bucket
    // count within the target (100). Pass 1 is a tiny min/max bounds agg
    // broadcast back (same shape as q100's sibling stats); pass 2 is the
    // histogram at the chosen interval. Orders spans ~2400 days / ~80
    // months, so the ladder lands on 'month' — from the data, not a
    // constant the planner could fold. Buckets project as epoch micros
    // (the driver's schema compare rejects raw TIMESTAMP columns).
    Entry("q117_auto_histogram",
      """WITH b AS (SELECT CASE
        |    WHEN date_diff('day', MIN(o_orderdate), MAX(o_orderdate)) <= 100 THEN 'day'
        |    WHEN date_diff('month', MIN(o_orderdate), MAX(o_orderdate)) <= 100 THEN 'month'
        |    ELSE 'year' END AS iv FROM orders)
        |SELECT iv, epoch_us(CASE iv WHEN 'day' THEN date_trunc('day', o_orderdate)
        |                            WHEN 'month' THEN date_trunc('month', o_orderdate)
        |                            ELSE date_trunc('year', o_orderdate) END) AS bucket,
        |       COUNT(*) AS n
        |FROM orders CROSS JOIN b
        |GROUP BY 1, 2 ORDER BY bucket""".stripMargin) { (s, d) =>
      val o = T(s, d, "orders")
      val bounds = o.agg(
        when(datediff(max(col("o_orderdate")), min(col("o_orderdate"))) <= 100, "day")
          .when(months_between(max(col("o_orderdate")), min(col("o_orderdate"))) <= 100, "month")
          .otherwise("year").as("iv"))
      o.crossJoin(broadcast(bounds))
        .groupBy(col("iv"),
                 unix_micros(when(col("iv") === "day", date_trunc("day", col("o_orderdate")))
                   .when(col("iv") === "month", date_trunc("month", col("o_orderdate")))
                   .otherwise(date_trunc("year", col("o_orderdate")))).as("bucket"))
        .agg(count(lit(1)).as("n"))
        .orderBy(col("bucket"))
    }.sqlTwin(
      // structural gaps: DuckDB date_diff('month', a, b) vs Spark's
      // months_between(b, a); epoch_us vs unix_micros
      """WITH b AS (SELECT CASE
        |    WHEN datediff(MAX(o_orderdate), MIN(o_orderdate)) <= 100 THEN 'day'
        |    WHEN months_between(MAX(o_orderdate), MIN(o_orderdate)) <= 100 THEN 'month'
        |    ELSE 'year' END AS iv FROM orders)
        |SELECT iv, unix_micros(CASE iv WHEN 'day' THEN date_trunc('day', o_orderdate)
        |                               WHEN 'month' THEN date_trunc('month', o_orderdate)
        |                               ELSE date_trunc('year', o_orderdate) END) AS bucket,
        |       COUNT(*) AS n
        |FROM orders CROSS JOIN b
        |GROUP BY 1, 2 ORDER BY bucket""".stripMargin),

    Entry("q32_top_hits",
      """SELECT c_mktsegment, string_agg(CAST(c_custkey AS VARCHAR), ',' ORDER BY c_custkey) AS top5
        |FROM (SELECT c_mktsegment, c_custkey,
        |        row_number() OVER (PARTITION BY c_mktsegment ORDER BY c_custkey) AS rn
        |      FROM customer) WHERE rn <= 5
        |GROUP BY c_mktsegment ORDER BY c_mktsegment""".stripMargin) { (s, d) =>
      val w = Window.partitionBy(col("c_mktsegment")).orderBy(col("c_custkey"))
      T(s, d, "customer")
        .withColumn("rn", row_number().over(w)).filter(col("rn") <= 5)
        .groupBy(col("c_mktsegment"))
        .agg(array_join(transform(sort_array(collect_list(col("c_custkey"))),
                                  _.cast("string")), ",").as("top5"))
        .orderBy(col("c_mktsegment"))
    }.sqlTwin(
      // structural gap: DuckDB string_agg(... ORDER BY ...) — Spark
      // aggregates take no ORDER BY, so sort the collected list instead
      """SELECT c_mktsegment,
        |  array_join(transform(sort_array(collect_list(c_custkey)), x -> CAST(x AS STRING)), ',') AS top5
        |FROM (SELECT c_mktsegment, c_custkey,
        |        row_number() OVER (PARTITION BY c_mktsegment ORDER BY c_custkey) AS rn
        |      FROM customer) WHERE rn <= 5
        |GROUP BY c_mktsegment ORDER BY c_mktsegment""".stripMargin),

    // ---- window functions (Q33-Q37) ----
    Entry("q33_rank",
      """SELECT o_orderpriority, o_orderkey, o_totalprice, CAST(rn AS INT) AS rn FROM (
        |  SELECT o_orderpriority, o_orderkey, o_totalprice,
        |    row_number() OVER (PARTITION BY o_orderpriority
        |                       ORDER BY o_totalprice DESC, o_orderkey) AS rn
        |  FROM orders) WHERE rn <= 3 ORDER BY o_orderpriority, rn""".stripMargin) { (s, d) =>
      val w = Window.partitionBy(col("o_orderpriority"))
        .orderBy(col("o_totalprice").desc, col("o_orderkey"))
      T(s, d, "orders").withColumn("rn", row_number().over(w)).filter(col("rn") <= 3)
        .select(col("o_orderpriority"), col("o_orderkey"), col("o_totalprice"), col("rn"))
        .orderBy(col("o_orderpriority"), col("rn"))
    },

    Entry.sql("q34_lag",
      """SELECT user_id, event_id,
        |  ROUND(value - lag(value) OVER (PARTITION BY user_id ORDER BY ts, event_id), 6) AS delta
        |FROM events WHERE user_id <= 20 ORDER BY user_id, event_id""".stripMargin),

    Entry.sql("q35_moving_avg",
      """SELECT user_id, event_id,
        |  ROUND(AVG(value) OVER (PARTITION BY user_id ORDER BY ts, event_id
        |        ROWS BETWEEN 2 PRECEDING AND CURRENT ROW), 6) AS mavg
        |FROM events WHERE user_id <= 10 ORDER BY user_id, event_id""".stripMargin),

    Entry.sql("q36_running_sum",
      """SELECT o_custkey, o_orderkey,
        |  ROUND(SUM(o_totalprice) OVER (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey
        |        ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW), 4) AS running
        |FROM orders ORDER BY o_custkey, o_orderkey""".stripMargin),

    // pr/cd are canonicalized by TRUNCATION (floor(x*1e6)/1e6), not
    // ROUND: the fractions k/n land on exact decimal half-ties (sf0.1
    // partitions hit 41/640 = 0.0640625), where DuckDB's double rounding
    // and Spark's BigDecimal HALF_UP disagree in the last digit. Both
    // engines compute bit-identical IEEE quotients, so flooring the same
    // scaled double is deterministic across engines at every SF.
    Entry("q37_ntile",
      """SELECT c_nationkey, c_custkey, CAST(q AS INT) AS q,
        |  FLOOR(pr * 1000000) / 1000000 AS pr, FLOOR(cd * 1000000) / 1000000 AS cd FROM (
        |  SELECT c_nationkey, c_custkey,
        |    ntile(4) OVER win AS q, percent_rank() OVER win AS pr, cume_dist() OVER win AS cd
        |  FROM customer WINDOW win AS (PARTITION BY c_nationkey ORDER BY c_acctbal, c_custkey))
        |ORDER BY c_nationkey, c_custkey""".stripMargin) { (s, d) =>
      val w = Window.partitionBy(col("c_nationkey")).orderBy(col("c_acctbal"), col("c_custkey"))
      T(s, d, "customer")
        .select(col("c_nationkey"), col("c_custkey"),
                ntile(4).over(w).cast("int").as("q"),
                (floor(percent_rank().over(w) * 1000000) / 1000000).as("pr"),
                (floor(cume_dist().over(w) * 1000000) / 1000000).as("cd"))
        .orderBy(col("c_nationkey"), col("c_custkey"))
    },

    // ---- sorts / limits / top-k (Q38-Q40) ----
    Entry.sql("q38_sort",
      """SELECT c_custkey, c_acctbal FROM customer
        |ORDER BY c_acctbal DESC NULLS LAST, c_custkey""".stripMargin),

    Entry.sql("q39_limit",
      """SELECT o_orderkey, o_totalprice FROM orders
        |ORDER BY o_totalprice DESC, o_orderkey LIMIT 10""".stripMargin),

    Entry.sql("q39_paging",
      """SELECT o_orderkey, o_totalprice, CAST(rn AS INT) AS rn FROM (
        |  SELECT o_orderkey, o_totalprice,
        |    row_number() OVER (ORDER BY o_totalprice DESC, o_orderkey) AS rn FROM orders)
        |WHERE rn BETWEEN 11 AND 20 ORDER BY rn""".stripMargin),

    Entry.sql("q40_topk",
      """SELECT l_orderkey, l_linenumber, l_extendedprice FROM lineitem
        |ORDER BY l_extendedprice DESC, l_orderkey, l_linenumber LIMIT 5""".stripMargin),

    // ES composite-aggregation analog: keyset-paged bucket iteration. The
    // `after` cursor is a tuple-compare filter on the BUCKET KEY evaluated
    // below the aggregation — rows before the cursor are dropped at the
    // scan (pushable predicate), the agg shuffles only surviving groups,
    // and the page itself is TakeOrderedAndProject over group rows. No
    // global window, no single-partition funnel (contrast q39_paging's
    // bounded from+size page); iterating all buckets re-runs with the last
    // emitted (lang, source) as the next cursor, exactly ES's `after`.
    Entry.sql("q86_composite_agg",
      """SELECT lang, source, COUNT(*) AS n FROM documents
        |WHERE lang > 'de' OR (lang = 'de' AND source > 'src2')
        |GROUP BY 1, 2 ORDER BY lang, source LIMIT 5""".stripMargin)
  )
}
