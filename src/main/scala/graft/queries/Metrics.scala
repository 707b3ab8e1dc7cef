package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.core.Tables

/** Round-7 metric + pipeline aggregation analogs — the remaining ES 6.x
  * metric/pipeline agg families not yet covered by Aggregates
  * (`string_stats`, `top_metrics`, `missing`, `normalize`,
  * `cumulative_cardinality`, `moving_percentiles`,
  * `median_absolute_deviation`, `t_test`). Provenance: the reference
  * delivers its query surface through the ES index it feeds
  * (`pom.xml:36-46`, SURVEY.md §2.2); these are that DSL's metric layer
  * re-expressed as Catalyst plans.
  *
  * Scale posture shared by the family: every pipeline agg here runs over
  * O(buckets) rows produced by one map-side-combinable hash agg — the
  * window/second-pass never touches source rows. The two-pass metrics
  * (MAD, t_test) broadcast a tiny per-group stats table back, so the
  * second pass is a broadcast join, not a shuffle.
  */
object Metrics {

  private def T(s: SparkSession, dir: String, n: String): DataFrame = Tables(s, dir, n)

  val entries: Seq[Entry] = Seq(

    // ES string_stats: per-bucket length stats plus Shannon entropy. ES
    // computes entropy over the character distribution; our analyzer-level
    // analog uses the TOKEN distribution (the unit every other text op
    // shares), stated identically in both engines:
    //   H = (ln N - sum(n ln n) / N) / ln 2
    // over per-(lang, token) counts n and per-lang totals N. Two hash
    // aggs — (lang, token) then lang — so the shuffle payload is
    // O(distinct tokens), never positions; the char-length stats ride the
    // documents scan in a third tiny agg joined on lang (broadcast: one
    // row per lang).
    Entry("q125_string_stats",
      s"""WITH toks AS (SELECT doc_id, lang, ${graft.text.Text.tokensSql} AS ws FROM documents),
        |w AS (SELECT lang, unnest(ws) AS w FROM toks),
        |tc AS (SELECT lang, w, COUNT(*) AS n FROM w GROUP BY 1, 2),
        |ent AS (SELECT lang, CAST(SUM(n) AS BIGINT) AS n_tokens,
        |               ROUND((LN(SUM(n)) - SUM(n * LN(n)) / SUM(n)) / LN(2), 6) AS entropy
        |        FROM tc GROUP BY 1),
        |lens AS (SELECT lang, COUNT(*) AS n_docs,
        |                CAST(MIN(length(text)) AS BIGINT) AS min_len,
        |                CAST(MAX(length(text)) AS BIGINT) AS max_len,
        |                ROUND(AVG(length(text)), 6) AS avg_len
        |         FROM documents GROUP BY 1)
        |SELECT l.lang, n_docs, min_len, max_len, avg_len, n_tokens, entropy
        |FROM lens l JOIN ent e ON l.lang = e.lang ORDER BY l.lang""".stripMargin) { (s, d) =>
      val toks = graft.text.TokenIndex.toks(s, d)   // carries lang already
      val tc = toks.select(col("lang"), explode(col("ws")).as("w"))
        .groupBy(col("lang"), col("w")).agg(count(lit(1)).as("n"))
      val ent = tc.groupBy(col("lang"))
        .agg(sum(col("n")).cast("bigint").as("n_tokens"),
             round((log(sum(col("n"))) - sum(col("n") * log(col("n"))) / sum(col("n"))) / log(lit(2.0)), 6)
               .as("entropy"))
      T(s, d, "documents").groupBy(col("lang"))
        .agg(count(lit(1)).as("n_docs"),
             min(length(col("text"))).cast("bigint").as("min_len"),
             max(length(col("text"))).cast("bigint").as("max_len"),
             round(avg(length(col("text"))), 6).as("avg_len"))
        .join(ent, "lang")
        .select(col("lang"), col("n_docs"), col("min_len"), col("max_len"),
                col("avg_len"), col("n_tokens"), col("entropy"))
        .orderBy(col("lang"))
    },

    // ES top_metrics: the metric value carried by the top-sorted row of
    // each bucket — here the totalprice of each priority's LATEST order.
    // One hash agg: max_by with a (sort, key) struct makes the pick
    // deterministic under date ties, and the partial-agg buffer is a
    // single row per group (map-side combinable), never a per-group sort
    // or window shuffle. The ORACLE states the same pick via row_number
    // only because DuckDB 1.0's arg_max lacks composite sort keys — the
    // engine path under test is the single-agg shape.
    Entry("q126_top_metrics",
      """WITH r AS (SELECT o_orderpriority, o_totalprice, o_orderdate,
        |  row_number() OVER (PARTITION BY o_orderpriority
        |                     ORDER BY o_orderdate DESC, o_orderkey DESC) AS rn
        |FROM orders)
        |SELECT o_orderpriority,
        |  epoch_us(CAST(o_orderdate AS TIMESTAMP)) AS latest_us,
        |  ROUND(o_totalprice, 4) AS latest_price
        |FROM r WHERE rn = 1 ORDER BY 1""".stripMargin) { (s, d) =>
      T(s, d, "orders").groupBy(col("o_orderpriority"))
        .agg(unix_micros(max(col("o_orderdate")).cast("timestamp")).as("latest_us"),
             round(max_by(col("o_totalprice"),
                          struct(col("o_orderdate"), col("o_orderkey"))), 4).as("latest_price"))
        .orderBy(col("o_orderpriority"))
    },

    // ES missing agg: bucket counting entities that LACK a field — here
    // customers with no order at all, per market segment (genuine
    // missingness in the star schema: order fan-out is random, some
    // customers have none). The probe side collapses to DISTINCT custkeys
    // BEFORE the join, so the left join is 1:≤1 (no fan-out row explosion)
    // and the missing flag is a null check on the join output. At scale
    // the distinct is one shuffle of keys only; the join then broadcasts
    // whichever side is small.
    Entry.sql("q127_missing_agg",
      """SELECT c_mktsegment, COUNT(*) AS total,
        |  CAST(SUM(CASE WHEN o.o_custkey IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS missing_orders
        |FROM customer c
        |LEFT JOIN (SELECT DISTINCT o_custkey FROM orders) o ON c_custkey = o.o_custkey
        |GROUP BY 1 ORDER BY 1""".stripMargin),

    // ES normalize pipeline agg (percent_of_sum): each daily bucket's
    // share of the total. The window runs over O(buckets) histogram rows
    // — an unpartitioned SUM() OVER () is only safe because the input IS
    // the bucket set, never source rows (same posture as q100/q109).
    Entry.sql("q128_normalize",
      """WITH h AS (
        |  SELECT CAST(date_trunc('day', ts) AS DATE) AS day, COUNT(*) AS n
        |  FROM events GROUP BY 1)
        |SELECT day, n, ROUND(n / SUM(n) OVER (), 6) AS pct_of_total
        |FROM h ORDER BY day""".stripMargin),

    // ES cumulative_cardinality pipeline agg: distinct users ever seen up
    // to each day. Exact at any scale WITHOUT carrying per-day HLL state:
    // cardinality only grows on a user's FIRST day, so min-day per user
    // (one hash agg over keys) -> new-user counts per day -> running sum
    // over O(buckets) rows. Days with no first-time user emit no row
    // (ES emits every bucket; the running sum is identical on shared
    // days — documented divergence).
    Entry.sql("q129_cumulative_cardinality",
      """WITH f AS (
        |  SELECT user_id, MIN(CAST(date_trunc('day', ts) AS DATE)) AS day
        |  FROM events GROUP BY 1),
        |d AS (SELECT day, COUNT(*) AS new_users FROM f GROUP BY 1)
        |SELECT day, new_users,
        |  CAST(SUM(new_users) OVER (ORDER BY day) AS BIGINT) AS cum_users
        |FROM d ORDER BY day""".stripMargin),

    // ES moving_percentiles pipeline agg: trailing-7-bucket median of the
    // daily histogram. The percentile window runs over O(buckets) rows
    // with a 7-row frame — per-frame exact interpolation over ≤7 values,
    // never a sketch and never source rows.
    Entry.sql("q130_moving_percentiles",
      """WITH h AS (
        |  SELECT CAST(date_trunc('day', ts) AS DATE) AS day, COUNT(*) AS n
        |  FROM events GROUP BY 1)
        |SELECT day, n,
        |  ROUND(quantile_cont(n, 0.5) OVER (ORDER BY day ROWS BETWEEN 6 PRECEDING AND CURRENT ROW), 6) AS p50_7
        |FROM h ORDER BY day""".stripMargin),

    // ES median_absolute_deviation: median(|x - median(x)|) per bucket.
    // Two passes: a tiny per-group median table (O(groups) rows) joins
    // back broadcast, then one more exact-percentile agg over the
    // deviations. At 100 TB both percentile passes would switch to the
    // approx sketch twin (same shape as q24's pair); the join stays
    // broadcast because the stats side is O(groups).
    Entry("q131_mad",
      """WITH m AS (
        |  SELECT o_orderpriority, quantile_cont(o_totalprice, 0.5) AS med
        |  FROM orders GROUP BY 1)
        |SELECT o.o_orderpriority, COUNT(*) AS n,
        |  ROUND(quantile_cont(ABS(o_totalprice - med), 0.5), 6) AS mad
        |FROM orders o JOIN m ON o.o_orderpriority = m.o_orderpriority
        |GROUP BY 1 ORDER BY 1""".stripMargin) { (s, d) =>
      val o = T(s, d, "orders")
      val med = o.groupBy(col("o_orderpriority").as("prio"))
        .agg(percentile(col("o_totalprice"), lit(0.5)).as("med"))
      o.join(broadcast(med), col("o_orderpriority") === col("prio"))
        .groupBy(col("o_orderpriority"))
        .agg(count(lit(1)).as("n"),
             round(percentile(abs(col("o_totalprice") - col("med")), lit(0.5)), 6).as("mad"))
        .orderBy(col("o_orderpriority"))
    },

    // ES global agg: aggregations that ESCAPE the query's filter context —
    // the classic "this slice vs the whole corpus" comparison row. Spark
    // expresses the escape as conditional aggregation: ONE scan, one hash
    // agg computing both the filtered-context stats (CASE-guarded
    // partials) and the unfiltered corpus stats, instead of two passes.
    Entry.sql("q140_global_agg",
      """SELECT COUNT(CASE WHEN o_orderstatus = 'F' THEN 1 END) AS n_ctx,
        |  ROUND(AVG(CASE WHEN o_orderstatus = 'F' THEN o_totalprice END), 6) AS avg_ctx,
        |  COUNT(*) AS n_all, ROUND(AVG(o_totalprice), 6) AS avg_all
        |FROM orders""".stripMargin),

    // ES t_test agg (Welch's unpaired, the ES default): compare mean order
    // value of finished vs open orders. One hash agg computes both
    // populations' (n, mean, var_samp) partials in a single pass; the
    // t statistic is driver-side-sized arithmetic over the two stat rows
    // (a 2-row cross join — O(1) at any corpus size).
    Entry("q132_t_test",
      """WITH s AS (
        |  SELECT o_orderstatus, COUNT(*) AS n, AVG(o_totalprice) AS m,
        |         var_samp(o_totalprice) AS v
        |  FROM orders WHERE o_orderstatus IN ('F', 'O') GROUP BY 1)
        |SELECT a.n AS n_f, b.n AS n_o,
        |  ROUND(a.m - b.m, 6) AS mean_diff,
        |  ROUND((a.m - b.m) / SQRT(a.v / a.n + b.v / b.n), 6) AS t_stat
        |FROM s a, s b WHERE a.o_orderstatus = 'F' AND b.o_orderstatus = 'O'""".stripMargin) { (s, d) =>
      val stats = T(s, d, "orders")
        .filter(col("o_orderstatus").isin("F", "O"))
        .groupBy(col("o_orderstatus"))
        .agg(count(lit(1)).as("n"), avg(col("o_totalprice")).as("m"),
             var_samp(col("o_totalprice")).as("v"))
      val a = stats.filter(col("o_orderstatus") === "F")
        .select(col("n").as("n_f"), col("m").as("m_f"), col("v").as("v_f"))
      val b = stats.filter(col("o_orderstatus") === "O")
        .select(col("n").as("n_o"), col("m").as("m_o"), col("v").as("v_o"))
      a.crossJoin(b)
        .select(col("n_f"), col("n_o"),
                round(col("m_f") - col("m_o"), 6).as("mean_diff"),
                round((col("m_f") - col("m_o")) /
                  sqrt(col("v_f") / col("n_f") + col("v_o") / col("n_o")), 6).as("t_stat"))
    },

    // ES moving_avg MODELS beyond q35's `simple`: linear (weight t),
    // ewma (exponential, seed = first value), holt (double exponential /
    // linear trend, textbook seeding l1=x1, b1=x2-x1, one-step forecast
    // l+b) — ES 6.3's moving_avg model family minus the seasonal
    // holt_winters (no seasonal fixture signal). Linear and ewma are
    // CLOSED FORMS over the collected 7-day frame (one indexed-lambda
    // weighted sum per row); holt's coupled recursion is a single
    // `aggregate()` fold over the frame's tail (state = (l, b) struct).
    // Scale: everything after the daily pre-agg runs over O(days) rows —
    // the window and the folds never touch source rows, the established
    // pipeline-agg posture.
    Entry("q164_moving_models", movingModelsOracleSql) { (s, d) =>
      movingModels(s, d)
    }.sqlTwin(movingModelsTwinSql),

    // ES moving_avg `holt_winters` — the seasonal member of the q164
    // family (additive type; ES 6.3 defaults alpha=0.3, beta=0.1,
    // gamma=0.3; period 7 here, window 14 = ES's enforced 2x-period
    // minimum). Textbook additive seeding over the first period: level =
    // mean of season one, trend = mean per-step slope between seasons one
    // and two, seasonal index s_i = x_i - level; then seven recursion
    // steps (t = 8..14) update (l, b, s_idx) and the one-step forecast is
    // l + b + s_next. The 3-variable-plus-seasonal-vector recursion runs
    // as ONE `aggregate()` fold over the step indices (state struct
    // (l, b, s[7]) — q164's holt fold extended with the seasonal vector).
    // Rows with m < 14 yield NULL (ES emits nothing until the window
    // fills); the arr accesses sit behind the m = 14 CASE guard, so
    // ANSI element_at never sees an out-of-range index. Scale: identical
    // to q164 — everything after the daily pre-agg runs over O(days)
    // rows; the single-partition window is over buckets, never source
    // rows.
    Entry("q190_holt_winters", holtWintersSql(
      i => s"arr[$i]", "list", "len")) { (s, d) =>
      holtWinters(s, d)
    }.sqlTwin(holtWintersSql(
      i => s"element_at(arr, $i)", "collect_list", "size")),

    // The ES SIBLING pipeline-agg family over one date_histogram:
    // min_bucket / max_bucket / avg_bucket / sum_bucket / stats_bucket
    // (the bucket count) computed over the per-day avg(value) metric,
    // plus a bucket_selector (keep buckets whose metric beats the
    // sibling avg — ES's script `params.avg > params.overall`). One
    // result table renders all of it: the sibling row is a single-row
    // aggregate over O(buckets) rows cross-joined back (Catalyst
    // broadcasts the 1-row side), and the selector is an ordinary filter
    // against that broadcast scalar — the histogram's source scan runs
    // once, and nothing after it touches source rows. Metric values are
    // rounded BEFORE the sibling fold on both sides, so the two engines
    // fold identical 6-dp doubles.
    Entry("q175_sibling_buckets",
      """WITH b AS (SELECT CAST(date_trunc('day', ts) AS DATE) AS day,
        |             COUNT(*) AS n, ROUND(AVG(value), 6) AS avg_value
        |           FROM events GROUP BY 1),
        |sib AS (SELECT ROUND(MIN(avg_value), 6) AS min_bucket,
        |               ROUND(MAX(avg_value), 6) AS max_bucket,
        |               ROUND(AVG(avg_value), 6) AS avg_bucket,
        |               ROUND(SUM(avg_value), 6) AS sum_bucket,
        |               CAST(COUNT(*) AS BIGINT) AS n_buckets
        |        FROM b)
        |SELECT day, CAST(n AS BIGINT) AS n, avg_value,
        |       min_bucket, max_bucket, avg_bucket, sum_bucket, n_buckets
        |FROM b CROSS JOIN sib WHERE avg_value > avg_bucket
        |ORDER BY day""".stripMargin) { (s, d) =>
      val b = T(s, d, "events")
        .groupBy(date_trunc("day", col("ts")).cast("date").as("day"))
        .agg(count(lit(1)).as("n"), round(avg(col("value")), 6).as("avg_value"))
      val sib = b.agg(round(min(col("avg_value")), 6).as("min_bucket"),
                      round(max(col("avg_value")), 6).as("max_bucket"),
                      round(avg(col("avg_value")), 6).as("avg_bucket"),
                      round(sum(col("avg_value")), 6).as("sum_bucket"),
                      count(lit(1)).cast("bigint").as("n_buckets"))
      b.crossJoin(broadcast(sib))
        .filter(col("avg_value") > col("avg_bucket"))
        .select(col("day"), col("n").cast("bigint").as("n"), col("avg_value"),
                col("min_bucket"), col("max_bucket"), col("avg_bucket"),
                col("sum_bucket"), col("n_buckets"))
        .orderBy(col("day"))
    }
  )

  /** Holt step t over accumulator columns (l, b): ES moving_avg holt
    * defaults alpha=0.3, beta=0.1. `m >= t` guards frames shorter than
    * the unroll depth (warm-up rows): the state simply stops advancing,
    * so (l, b) is the step-m state for every frame length. `bnew` inlines
    * `lnew` (references only l/b/arr columns), keeping each step a
    * single projection. */
  private def holtStep(t: Int, xt: String): (String, String) = {
    val lnew = s"CASE WHEN m >= $t THEN 0.3 * $xt + 0.7 * (l + b) ELSE l END"
    val bnew = s"CASE WHEN m >= $t THEN 0.1 * (($lnew) - l) + 0.9 * b ELSE b END"
    (lnew, bnew)
  }

  private def movingModelsOracleSql: String = {
    val steps = (2 to 7).map { t =>
      val (l, b) = holtStep(t, s"arr[$t]")
      s"g$t AS (SELECT day, n, arr, m, ($l) AS l, ($b) AS b FROM g${t - 1})"
    }.mkString(",\n")
    s"""WITH h AS (
       |  SELECT CAST(date_trunc('day', ts) AS DATE) AS day, COUNT(*) AS n
       |  FROM events GROUP BY 1),
       |base AS (SELECT day, n,
       |    list(CAST(n AS DOUBLE)) OVER (ORDER BY day
       |      ROWS BETWEEN 6 PRECEDING AND CURRENT ROW) AS arr FROM h),
       |g1 AS (SELECT day, n, arr, len(arr) AS m, arr[1] AS l,
       |    CASE WHEN len(arr) >= 2 THEN arr[2] - arr[1] ELSE CAST(0 AS DOUBLE) END AS b
       |  FROM base),
       |$steps
       |SELECT day, n,
       |  ROUND(list_sum(arr) / m, 6) AS mavg7,
       |  ROUND(list_sum(list_transform(arr, (x, i) -> x * i)) / (m * (m + 1) / 2), 6) AS lwma7,
       |  ROUND(list_sum(list_transform(arr, (x, i) ->
       |    CASE WHEN i = 1 THEN x * power(0.7, m - 1)
       |         ELSE 0.3 * power(0.7, m - i) * x END)), 6) AS ewma7,
       |  ROUND(l + b, 6) AS holt7
       |FROM g7 ORDER BY day""".stripMargin
  }

  private def movingModelsTwinSql: String = {
    val steps = (2 to 7).map { t =>
      val (l, b) = holtStep(t, s"element_at(arr, $t)")
      s"g$t AS (SELECT day, n, arr, m, ($l) AS l, ($b) AS b FROM g${t - 1})"
    }.mkString(",\n")
    s"""WITH h AS (
       |  SELECT CAST(date_trunc('day', ts) AS DATE) AS day, COUNT(*) AS n
       |  FROM events GROUP BY 1),
       |base AS (SELECT day, n,
       |    collect_list(CAST(n AS DOUBLE)) OVER (ORDER BY day
       |      ROWS BETWEEN 6 PRECEDING AND CURRENT ROW) AS arr FROM h),
       |g1 AS (SELECT day, n, arr, size(arr) AS m, element_at(arr, 1) AS l,
       |    CASE WHEN size(arr) >= 2 THEN element_at(arr, 2) - element_at(arr, 1)
       |         ELSE CAST(0 AS DOUBLE) END AS b
       |  FROM base),
       |$steps
       |SELECT day, n,
       |  ROUND(aggregate(arr, 0D, (acc, x) -> acc + x) / m, 6) AS mavg7,
       |  ROUND(aggregate(transform(arr, (x, i) -> x * (i + 1)), 0D,
       |        (acc, x) -> acc + x) / (m * (m + 1) / 2), 6) AS lwma7,
       |  ROUND(aggregate(transform(arr, (x, i) ->
       |    CASE WHEN i = 0 THEN x * power(0.7, m - 1)
       |         ELSE 0.3 * power(0.7, m - 1 - i) * x END), 0D,
       |        (acc, x) -> acc + x), 6) AS ewma7,
       |  ROUND(l + b, 6) AS holt7
       |FROM g7 ORDER BY day""".stripMargin
  }

  // ---- q190 holt_winters: shared fragment generators --------------------
  // `at(i)` renders a 1-based frame access (DuckDB `arr[i]`, Spark
  // `element_at(arr, i)`); every occurrence is guarded by `m = 14` so the
  // index is always in range. alpha=0.3, beta=0.1, gamma=0.3, period=7.

  private def hwGuard(body: String): String =
    s"CASE WHEN m = 14 THEN $body ELSE CAST(NULL AS DOUBLE) END"

  private def hwSeedL(at: Int => String): String =
    hwGuard((1 to 7).map(at).mkString("(", " + ", ") / 7.0"))

  private def hwSeedB(at: Int => String): String =
    hwGuard((1 to 7).map(i => s"(${at(i + 7)} - ${at(i)})")
      .mkString("(", " + ", ") / 49.0"))

  private def hwSeedS(at: Int => String, i: Int): String =
    hwGuard(s"${at(i)} - l")

  /** Step t in 8..14: returns (l', b', s_idx') with l' inlined where the
    * other two reference it (each step stays a single projection). */
  private def hwStep(at: Int => String, t: Int): (String, String, String, Int) = {
    val idx = ((t - 1) % 7) + 1
    val lnew = hwGuard(s"0.3 * (${at(t)} - s$idx) + 0.7 * (l + b)")
    val bnew = hwGuard(s"0.1 * (($lnew) - l) + 0.9 * b")
    val snew = hwGuard(s"0.3 * (${at(t)} - ($lnew)) + 0.7 * s$idx")
    (lnew, bnew, snew, idx)
  }

  /** The full q190 SQL for either dialect (`listFn`/`lenFn` are the only
    * dialect seams beyond `at`). After the seven steps the next bucket is
    * t = 15, whose seasonal slot is s1 (updated at t = 8). */
  private def holtWintersSql(at: Int => String, listFn: String, lenFn: String): String = {
    val sSeed = (1 to 7).map(i => s"(${hwSeedS(at, i)}) AS s$i").mkString(", ")
    val steps = (8 to 14).map { t =>
      val (lnew, bnew, snew, idx) = hwStep(at, t)
      val sCols = (1 to 7)
        .map(i => if (i == idx) s"($snew) AS s$i" else s"s$i").mkString(", ")
      s"hw$t AS (SELECT day, n, arr, m, ($lnew) AS l, ($bnew) AS b, $sCols FROM hw${t - 1})"
    }.mkString(",\n")
    s"""WITH h AS (
       |  SELECT CAST(date_trunc('day', ts) AS DATE) AS day, COUNT(*) AS n
       |  FROM events GROUP BY 1),
       |base AS (SELECT day, n,
       |    $listFn(CAST(n AS DOUBLE)) OVER (ORDER BY day
       |      ROWS BETWEEN 13 PRECEDING AND CURRENT ROW) AS arr FROM h),
       |m0 AS (SELECT day, n, arr, $lenFn(arr) AS m FROM base),
       |sd AS (SELECT day, n, arr, m, (${hwSeedL(at)}) AS l, (${hwSeedB(at)}) AS b FROM m0),
       |hw7 AS (SELECT day, n, arr, m, l, b, $sSeed FROM sd),
       |$steps
       |SELECT day, n, ROUND(l + b + s1, 6) AS hw_forecast
       |FROM hw14 ORDER BY day""".stripMargin
  }

  /** q190's DataFrame implementation: the (l, b, s[7]) recursion as ONE
    * `aggregate()` fold over the step indices `sequence(8, 14)`, state
    * threaded as a named_struct. The former 14-projection unroll inlined
    * `lnew` into `bnew`/`snew` at every step, growing the expression tree
    * multiplicatively — over 30 bucket rows the dominant cost was
    * analysis + codegen, not data. The fold is an O(1)-size expression;
    * arithmetic is op-for-op identical to the oracle's unrolled
    * recursion, so the cross-engine hash contract is unchanged. The
    * single outer `m = 14` CASE guard replaces the per-step guards
    * (CASE branches evaluate lazily, so ANSI `element_at` never sees an
    * out-of-range index on warm-up rows). */
  private def holtWinters(s: SparkSession, d: String): DataFrame = {
    val w = Window.orderBy(col("day")).rowsBetween(-13, 0)
    hwForecast(
      T(s, d, "events")
        .groupBy(date_trunc("day", col("ts")).cast("date").as("day"))
        .agg(count(lit(1)).as("n"))
        .withColumn("arr", collect_list(col("n").cast("double")).over(w)))
      .select(col("day"), col("n"), col("hw_forecast"))
      .orderBy(col("day"))
  }

  /** Adds `hw_forecast` to a frame carrying an `arr` array<double> column
    * (the 14-element window). Factored from [[holtWinters]] so
    * HoltFoldPropertySpec can drive the fold over arbitrary generated
    * series without a fixture dir. */
  private[graft] def hwForecast(in: DataFrame): DataFrame = {
    val at = (i: Int) => s"element_at(arr, $i)"
    val seedL = (1 to 7).map(at).mkString("(", " + ", ") / 7.0")
    val seedB = (1 to 7).map(i => s"(${at(i + 7)} - ${at(i)})")
      .mkString("(", " + ", ") / 49.0")
    val seedS = (1 to 7).map(i => s"${at(i)} - l0").mkString("array(", ", ", ")")
    // lnew references only the fold state (st) and the step index (t);
    // inlined into b'/s' exactly as the oracle's unrolled steps inline it.
    val lnew = "0.3 * (element_at(arr, t) - element_at(st.s, ((t - 1) % 7) + 1))" +
      " + 0.7 * (st.l + st.b)"
    val fold =
      s"""CASE WHEN m = 14 THEN aggregate(
         |  sequence(8, 14),
         |  named_struct('l', l0, 'b', b0, 's', $seedS),
         |  (st, t) -> named_struct(
         |    'l', $lnew,
         |    'b', 0.1 * (($lnew) - st.l) + 0.9 * st.b,
         |    's', transform(st.s, (sv, si) -> CASE WHEN si = (t - 1) % 7
         |           THEN 0.3 * (element_at(arr, t) - ($lnew)) + 0.7 * sv
         |           ELSE sv END)),
         |  st -> round(st.l + st.b + element_at(st.s, 1), 6))
         |ELSE CAST(NULL AS DOUBLE) END""".stripMargin
    in.withColumn("m", size(col("arr")))
      .withColumn("l0", expr(hwGuard(seedL)))
      .withColumn("b0", expr(hwGuard(seedB)))
      .withColumn("hw_forecast", expr(fold))
  }

  /** q164's implementation: daily pre-agg, framed collect, closed-form
    * weighted sums for linear/ewma, and the holt chain as ONE
    * `aggregate()` fold over `slice(arr, 2, m - 1)` (elements 2..m ≡ the
    * former guarded steps t = 2..m; empty slice for m = 1 leaves the
    * seed state untouched). Replaces six chained projections whose
    * `lnew`-inlining doubled the expression per step — see q190's note;
    * arithmetic is op-for-op identical to the oracle's recursion. */
  /** The q164 holt fold (needs columns `arr`, `m`); package-visible for
    * HoltFoldPropertySpec. */
  private[graft] val holtFoldSql: String =
    """aggregate(
      |  slice(arr, 2, m - 1),
      |  named_struct('l', element_at(arr, 1),
      |    'b', CASE WHEN m >= 2 THEN element_at(arr, 2) - element_at(arr, 1)
      |         ELSE CAST(0 AS DOUBLE) END),
      |  (st, x) -> named_struct(
      |    'l', 0.3 * x + 0.7 * (st.l + st.b),
      |    'b', 0.1 * ((0.3 * x + 0.7 * (st.l + st.b)) - st.l) + 0.9 * st.b),
      |  st -> round(st.l + st.b, 6))""".stripMargin

  private def movingModels(s: SparkSession, d: String): DataFrame = {
    val w = Window.orderBy(col("day")).rowsBetween(-6, 0)
    val df = T(s, d, "events")
      .groupBy(date_trunc("day", col("ts")).cast("date").as("day"))
      .agg(count(lit(1)).as("n"))
      .withColumn("arr", collect_list(col("n").cast("double")).over(w))
      .withColumn("m", size(col("arr")))
    df.select(col("day"), col("n"),
      round(expr("aggregate(arr, 0D, (acc, x) -> acc + x) / m"), 6).as("mavg7"),
      round(expr("aggregate(transform(arr, (x, i) -> x * (i + 1)), 0D, " +
        "(acc, x) -> acc + x) / (m * (m + 1) / 2)"), 6).as("lwma7"),
      round(expr("aggregate(transform(arr, (x, i) -> " +
        "CASE WHEN i = 0 THEN x * power(0.7, m - 1) " +
        "ELSE 0.3 * power(0.7, m - 1 - i) * x END), 0D, " +
        "(acc, x) -> acc + x)"), 6).as("ewma7"),
      expr(holtFoldSql).as("holt7"))
      .orderBy(col("day"))
  }
}
