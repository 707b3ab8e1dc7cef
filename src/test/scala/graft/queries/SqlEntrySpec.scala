package graft.queries

import org.apache.spark.sql.functions.col

import graft.{GraftSuite, SparkEntry}
import graft.core.Tables

/** `Entry.sql` binds its twin's table names to the fixture directory of
  * each call, not to session views: one session serves two directories,
  * registers nothing, and the binding reaches every place a table name
  * can sit (CTE bodies, subquery expressions) unless a CTE of the same
  * name shadows it. */
class SqlEntrySpec extends GraftSuite {

  private def orders(dir: String): Long = Tables(spark, dir, "orders").count()
  private def single(e: Entry, dir: String): Long = e.fn(spark, dir).collect().toSeq.map(_.getLong(0)) match {
    case Seq(n) => n
    case rows => fail(s"${e.name}: expected one row, got $rows")
  }

  test("one session, two fixture dirs: each call reads its own dir and registers no view") {
    val e = SparkEntry.allEntries.find(_.name == "q06_term").get
    assert(e.sqlOnly)
    val views = spark.catalog.listTables().collect().map(_.name).toSet
    def expected(dir: String) = Tables(spark, dir, "orders").filter(col("o_orderstatus") === "F").count()
    val (small, mid) = (single(e, sf), single(e, sf01))
    assert(small === expected(sf))
    assert(mid === expected(sf01))
    assert(small !== mid, "the two fixture dirs must differ for this check to mean anything")
    assert(spark.catalog.listTables().collect().map(_.name).toSet === views)
  }

  test("a table referenced only inside a CTE body binds") {
    val e = Entry.sql("cte_body", "WITH o AS (SELECT o_orderkey FROM orders) SELECT COUNT(*) AS n FROM o")
    assert(single(e, sf01) === orders(sf01))
  }

  test("a table referenced inside a scalar subquery binds") {
    val e = Entry.sql("scalar_subquery",
      "SELECT COUNT(*) AS n FROM region WHERE r_regionkey < (SELECT COUNT(*) FROM orders)")
    assert(single(e, sf01) === Tables(spark, sf01, "region").count())
    val nested = Entry.sql("subquery_value", "SELECT (SELECT COUNT(*) FROM orders) AS n")
    assert(single(nested, sf01) === orders(sf01))
  }

  test("a CTE named like a fixture table shadows it") {
    val e = Entry.sql("cte_shadow", "WITH orders AS (SELECT 1 AS o_orderkey) SELECT COUNT(*) FROM orders")
    assert(single(e, sf01) === 1L)
  }

  test("a bridge reject surfaces from fn with the bridge's message") {
    val e = Entry.sql("bridge_reject", "SELECT 'x FROM orders")
    val why = e.twinError.getOrElse(fail("the bridge accepted an unterminated literal"))
    val err = intercept[IllegalStateException](e.fn(spark, sf))
    assert(err.getMessage.contains(why))
  }
}
