package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.core.Tables

/** Set operations and the scalar-function library — SURVEY.md Q41-Q50.
  *
  * Everything here is built-in Catalyst expressions (whole-stage
  * codegen'd) — no UDFs. Cross-engine type notes: DuckDB's
  * year()/floor()/sign()/epoch() return wider or different types than
  * Spark's; every such column is explicitly cast on both sides so the
  * oracle compare is type-stable.
  */
object Scalars {

  private def T(s: SparkSession, dir: String, n: String): DataFrame = Tables(s, dir, n)

  val entries: Seq[Entry] = Seq(

    // ---- set operations (Q41-Q43) ----
    Entry.sql("q41_union_distinct",
      """SELECT o_custkey AS id FROM orders UNION SELECT user_id FROM events ORDER BY id""".stripMargin),

    Entry.sql("q41_union_all",
      """SELECT id, COUNT(*) AS n FROM (
        |  SELECT o_custkey AS id FROM orders UNION ALL SELECT user_id FROM events)
        |GROUP BY id ORDER BY id""".stripMargin),

    Entry.sql("q42_intersect",
      """SELECT o_custkey AS id FROM orders INTERSECT SELECT user_id FROM events ORDER BY id""".stripMargin),

    Entry.sql("q43_except",
      """SELECT c_custkey AS id FROM customer EXCEPT SELECT user_id FROM events ORDER BY id""".stripMargin),

    // ---- scalar families (Q44-Q50) ----
    Entry.sql("q44_string_funcs",
      """SELECT p_partkey,
        |  upper(p_name) AS up, lower(p_type) AS lo,
        |  substring(p_name, 1, 5) AS sub,
        |  CAST(length(p_name) AS INT) AS len,
        |  concat(p_brand, ':', p_type) AS cat,
        |  trim('  x' || p_name || ' ') AS trimmed,
        |  lpad(p_brand, 12, '*') AS padded,
        |  translate(p_name, 'aeiou', 'AEIOU') AS tr,
        |  regexp_replace(p_name, '[aeiou]', '_', 'g') AS rr,
        |  regexp_extract(p_name, '([a-z]+)', 1) AS rx,
        |  split_part(p_name, ' ', 1) AS sp,
        |  CAST(strpos(p_name, 'e') AS INT) AS ip,
        |  reverse(p_brand) AS rev,
        |  repeat(p_brand, 2) AS rep
        |FROM part ORDER BY p_partkey""".stripMargin),

    Entry.sql("q45_date_funcs",
      """SELECT o_orderkey,
        |  CAST(year(o_orderdate) AS INT) AS y,
        |  CAST(month(o_orderdate) AS INT) AS m,
        |  CAST(day(o_orderdate) AS INT) AS dom,
        |  CAST(dayofweek(o_orderdate) AS INT) AS dow,
        |  CAST(o_orderdate AS DATE) + 7 AS plus7,
        |  CAST(datediff('day', DATE '1995-01-01', CAST(o_orderdate AS DATE)) AS INT) AS dd,
        |  CAST(date_trunc('month', o_orderdate) AS DATE) AS mon,
        |  last_day(CAST(o_orderdate AS DATE)) AS eom,
        |  CAST(epoch(o_orderdate) AS BIGINT) AS unix_s,
        |  strftime(o_orderdate, '%Y-%m-%d') AS fmt
        |FROM orders ORDER BY o_orderkey""".stripMargin).sqlTwin(
      // structural dialect gaps: DuckDB datediff takes a unit, dayofweek is
      // 0-based, epoch()/strftime() rename to unix_timestamp/date_format
      """SELECT o_orderkey,
        |  CAST(year(o_orderdate) AS INT) AS y,
        |  CAST(month(o_orderdate) AS INT) AS m,
        |  CAST(day(o_orderdate) AS INT) AS dom,
        |  CAST(dayofweek(o_orderdate) - 1 AS INT) AS dow,
        |  date_add(CAST(o_orderdate AS DATE), 7) AS plus7,
        |  CAST(datediff(CAST(o_orderdate AS DATE), DATE '1995-01-01') AS INT) AS dd,
        |  CAST(date_trunc('month', o_orderdate) AS DATE) AS mon,
        |  last_day(CAST(o_orderdate AS DATE)) AS eom,
        |  CAST(unix_timestamp(o_orderdate) AS BIGINT) AS unix_s,
        |  date_format(o_orderdate, 'yyyy-MM-dd') AS fmt
        |FROM orders ORDER BY o_orderkey""".stripMargin),

    Entry("q46_math_funcs",
      """SELECT l_orderkey, l_linenumber,
        |  ROUND(l_extendedprice, 1) AS r1,
        |  CAST(FLOOR(l_extendedprice) AS BIGINT) AS fl,
        |  CAST(CEIL(l_extendedprice) AS BIGINT) AS ce,
        |  ABS(l_discount - 0.05) AS ab,
        |  ROUND(POW(l_quantity, 2), 6) AS p2,
        |  ROUND(SQRT(l_extendedprice), 6) AS sq,
        |  ROUND(LN(l_extendedprice + 1), 6) AS lg,
        |  ROUND(EXP(l_discount), 6) AS ex,
        |  CAST(CAST(l_quantity AS BIGINT) % 7 AS BIGINT) AS md,
        |  CAST(SIGN(l_discount - 0.05) AS INT) AS sg,
        |  GREATEST(l_tax, l_discount) AS gr,
        |  LEAST(l_tax, l_discount) AS le
        |FROM lineitem ORDER BY l_orderkey, l_linenumber""".stripMargin) { (s, d) =>
      // Scalar derivations sit ABOVE the total-order sort: the range
      // exchange then carries the 6 source columns (~52 B/row) instead of
      // all 14 derived ones (~110 B/row) — the guide §2.3 "project before
      // the exchange" rule, in its compute-after-the-exchange form (the
      // sort keys only need the source row). Same rows, same order, same
      // schema — the oracle text is unchanged.
      T(s, d, "lineitem")
        .orderBy(col("l_orderkey"), col("l_linenumber"))
        .select(
          col("l_orderkey"), col("l_linenumber"),
          round(col("l_extendedprice"), 1).as("r1"),
          floor(col("l_extendedprice")).as("fl"),
          ceil(col("l_extendedprice")).as("ce"),
          abs(col("l_discount") - 0.05).as("ab"),
          round(pow(col("l_quantity"), 2), 6).as("p2"),
          round(sqrt(col("l_extendedprice")), 6).as("sq"),
          round(log(col("l_extendedprice") + 1), 6).as("lg"),
          round(exp(col("l_discount")), 6).as("ex"),
          (col("l_quantity").cast("bigint") % 7).as("md"),
          signum(col("l_discount") - 0.05).cast("int").as("sg"),
          greatest(col("l_tax"), col("l_discount")).as("gr"),
          least(col("l_tax"), col("l_discount")).as("le"))
    },

    Entry("q47_conditional",
      """SELECT o_orderkey,
        |  CASE WHEN o_totalprice < 1000 THEN 'S' WHEN o_totalprice < 100000 THEN 'M' ELSE 'L' END AS sz,
        |  coalesce(nullif(o_orderstatus, 'O'), 'OPEN') AS st,
        |  CASE WHEN o_orderpriority IS NOT NULL THEN 'Y' ELSE 'N' END AS has_prio,
        |  ifnull(NULL, o_orderstatus) AS nv
        |FROM orders ORDER BY o_orderkey""".stripMargin) { (s, d) =>
      T(s, d, "orders").select(
        col("o_orderkey"),
        when(col("o_totalprice") < 1000, "S")
          .when(col("o_totalprice") < 100000, "M").otherwise("L").as("sz"),
        coalesce(nullif(col("o_orderstatus"), lit("O")), lit("OPEN")).as("st"),
        expr("nvl2(o_orderpriority, 'Y', 'N')").as("has_prio"),
        expr("nvl(NULL, o_orderstatus)").as("nv"))
        .orderBy(col("o_orderkey"))
    },

    Entry.sql("q48_array_funcs",
      """SELECT vec_id,
        |  CAST(len(embedding) AS INT) AS dim,
        |  ROUND(CAST(embedding[1] AS DOUBLE), 6) AS e1,
        |  ROUND(CAST(list_min(embedding) AS DOUBLE), 6) AS mn,
        |  ROUND(CAST(list_max(embedding) AS DOUBLE), 6) AS mx,
        |  CAST(len(list_filter(embedding, x -> x > 0)) AS INT) AS n_pos,
        |  ROUND((SELECT SUM(CAST(x AS DOUBLE)) FROM UNNEST(embedding) AS u(x)), 4) AS tot,
        |  ROUND(CAST(list_sort(embedding)[2] AS DOUBLE), 6) AS second_min
        |FROM embeddings ORDER BY vec_id""".stripMargin).sqlTwin(
      // structural gaps: DuckDB's 1-based [] vs element_at, UNNEST-subquery
      // sum vs the aggregate() lambda
      """SELECT vec_id,
        |  CAST(size(embedding) AS INT) AS dim,
        |  ROUND(CAST(element_at(embedding, 1) AS DOUBLE), 6) AS e1,
        |  ROUND(CAST(array_min(embedding) AS DOUBLE), 6) AS mn,
        |  ROUND(CAST(array_max(embedding) AS DOUBLE), 6) AS mx,
        |  CAST(size(filter(embedding, x -> x > 0)) AS INT) AS n_pos,
        |  ROUND(aggregate(embedding, CAST(0.0 AS DOUBLE), (acc, x) -> acc + CAST(x AS DOUBLE)), 4) AS tot,
        |  ROUND(CAST(element_at(sort_array(embedding), 2) AS DOUBLE), 6) AS second_min
        |FROM embeddings ORDER BY vec_id""".stripMargin),

    Entry.sql("q50_json",
      """SELECT CAST(json_extract_string(props, '$.k') AS INT) % 10 AS k_mod, COUNT(*) AS n
        |FROM events WHERE props IS NOT NULL GROUP BY 1 ORDER BY 1""".stripMargin),

    Entry("q50_from_json",
      """SELECT CAST(MIN(CAST(json_extract_string(props, '$.k') AS INT)) AS INT) AS k_min,
        |       CAST(MAX(CAST(json_extract_string(props, '$.k') AS INT)) AS INT) AS k_max,
        |       COUNT(json_extract_string(props, '$.missing')) AS n_missing
        |FROM events""".stripMargin) { (s, d) =>
      val parsed = T(s, d, "events")
        .select(expr("from_json(props, 'k INT, missing STRING')").as("j"))
      parsed.agg(
        min(col("j.k")).as("k_min"),
        max(col("j.k")).as("k_max"),
        count(col("j.missing")).as("n_missing"))
    }
  )
}
