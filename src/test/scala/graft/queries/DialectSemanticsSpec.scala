package graft.queries

import org.apache.spark.sql.Row

import graft.GraftSuite

/** The Spark SQL behaviours that let an oracle's DuckDB text run as its
  * own `spark.sql` twin, with no bridge rule and no hand twin. Each is
  * pinned on inputs the fixtures never produce (NULL, negative and
  * extreme integers, duplicate input rows, non-ASCII text), because
  * SqlParitySpec only sees fixture rows:
  *
  *   - `'s' || x` over a BIGINT is `concat('s', x)`: the decimal text of
  *     x, NULL for a NULL x (DuckDB's `||` means the same);
  *   - a generator may sit directly under `SELECT DISTINCT`, and
  *     deduplicates its generated rows like the subquery form;
  *   - `md5` over a string hashes its UTF-8 bytes, as DuckDB's does.
  */
class DialectSemanticsSpec extends GraftSuite {

  private val bigints =
    "VALUES (CAST(NULL AS BIGINT)), (CAST(-7 AS BIGINT)), (9223372036854775807), " +
      "(CAST(-9223372036854775808 AS BIGINT)), (CAST(0 AS BIGINT)) AS t(x)"

  test("'s' || <bigint> equals concat('s', x), NULL for a NULL x") {
    val df = spark.sql(s"SELECT x, 's' || x AS bar, concat('s', x) AS fn FROM $bigints")
    assert(df.schema("bar").dataType == df.schema("fn").dataType)
    val rows = df.collect().map(r => (Option(r.get(0)), Option(r.getString(1)), Option(r.getString(2))))
    assert(rows.toSet == Set(
      (None, None, None),
      (Some(-7L), Some("s-7"), Some("s-7")),
      (Some(Long.MaxValue), Some(s"s${Long.MaxValue}"), Some(s"s${Long.MaxValue}")),
      (Some(Long.MinValue), Some(s"s${Long.MinValue}"), Some(s"s${Long.MinValue}")),
      (Some(0L), Some("s0"), Some("s0"))))
    // the oracles' host shape, bridged: a chain of || over integer arithmetic
    val host = Dialect.duckToSpark("'www.site' || ((x // 4) % 5) || '.com'")
    val hosts = spark.sql(s"SELECT x, $host AS h, concat('www.site', (x div 4) % 5, '.com') AS c " +
      s"FROM $bigints").collect()
    hosts.foreach(r => assert(r.get(1) == r.get(2), s"host of ${r.get(0)}"))
    assert(hosts.count(_.isNullAt(1)) == 1)
  }

  test("SELECT DISTINCT k, explode(xs) equals the subquery form on duplicate rows") {
    val t =
      """VALUES
        |  (1, array('a', 'b', 'a')), (1, array('a', 'b', 'a')), (1, array('b', 'c')),
        |  (2, array(CAST(NULL AS STRING), 'x', NULL)), (2, array('x')),
        |  (3, CAST(array() AS ARRAY<STRING>)), (4, CAST(NULL AS ARRAY<STRING>))
        |  AS t(k, xs)""".stripMargin
    def rows(sql: String): Seq[(Int, Option[String])] =
      spark.sql(sql).collect().toSeq.map(r => (r.getInt(0), Option(r.getString(1)))).sortBy(_.toString)
    val direct = rows(s"SELECT DISTINCT k, explode(xs) AS w FROM $t")
    val nested = rows(s"SELECT DISTINCT k, w FROM (SELECT k, explode(xs) AS w FROM $t)")
    assert(direct == nested)
    assert(direct == Seq(1 -> Some("a"), 1 -> Some("b"), 1 -> Some("c"), 2 -> None, 2 -> Some("x"))
      .sortBy(_.toString))
  }

  test("md5(s) equals md5(encode(s, 'UTF-8')) on non-ASCII text") {
    val texts = Seq("", "ascii", "caf\u00e9", "na\u00efve r\u00e9sum\u00e9",
      "\u65e5\u672c\u8a9e", "emoji \ud83d\ude00", "e\u0301")
    val values = (texts.map(t => s"('${t.replace("'", "''")}')") :+ "(CAST(NULL AS STRING))")
      .mkString(", ")
    val got = spark.sql(s"SELECT s, md5(s), md5(encode(s, 'UTF-8')) FROM VALUES $values AS t(s)")
      .collect()
    def utf8Md5(s: String): String =
      java.security.MessageDigest.getInstance("MD5").digest(s.getBytes("UTF-8"))
        .map(b => f"${b & 0xff}%02x").mkString
    got.foreach {
      case Row(null, a, b) => assert(a == null && b == null)
      case Row(s: String, a: String, b: String) =>
        assert(a == b, s"md5 of '$s'")
        assert(a == utf8Md5(s), s"md5 of '$s' is not over its UTF-8 bytes")
    }
    assert(got.length == texts.size + 1)
  }
}
