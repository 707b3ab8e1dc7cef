package graft.queries

import scala.util.Try

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.graft.GraftPlans

import graft.core.Tables

/** One declared query: the Spark implementation plus (when SQL-expressible)
  * the DuckDB oracle SQL the driver hash-compares against (SURVEY.md §2.2).
  * Oracle-less entries get the driver's weaker rows-only check (approx /
  * sketch variants whose outputs are engine-specific by design).
  *
  * SQL entry path (SURVEY.md §3.4 entry C): every oracle-backed query also
  * runs via `spark.sql`. [[sparkSql]] is that twin: the oracle bridged by
  * [[Dialect.duckToSpark]], or the [[sqlTwin]] override where the twin
  * differs structurally.
  *
  * An entry has ONE implementation. By default ([[Entry.sql]]) it is the
  * twin itself: [[fn]] runs [[sparkSql]] with the fixture tables bound to
  * the given directory, so the DuckDB oracle (Verify + selfcheck) checks
  * it directly. A DataFrame `body` is written only where its plan differs
  * from the twin's (a join hint, a `Staging` step, a kernel, a stream, a
  * side effect); SqlParitySpec matches such a body against the twin row
  * for row, and fails one whose optimized plan and join hints equal the
  * twin's.
  */
case class Entry(name: String,
                 body: Option[(SparkSession, String) => DataFrame],
                 oracle: Option[String],
                 sparkSqlOverride: Option[String] = None) {

  /** The implementation over the fixture directory `d`: the DataFrame
    * body, or for an [[Entry.sql]] entry the twin over `d`'s tables. */
  def fn: (SparkSession, String) => DataFrame = body.getOrElse(viaSql _)

  /** Whether the twin is the only implementation ([[Entry.sql]]). */
  def sqlOnly: Boolean = body.isEmpty

  private def viaSql(s: SparkSession, d: String): DataFrame = {
    val sql = sparkSql.getOrElse(throw new IllegalStateException(
      s"$name has no spark.sql twin: ${twinError.getOrElse("no oracle")}"))
    GraftPlans.sqlOver(s, sql, Tables.all.toSet)(Tables(s, d, _))
  }

  /** The bridge's derivation, for an oracle-backed entry without an
    * override. A reject stays with this entry: [[sparkSql]] is then None
    * and [[twinError]] says why. */
  private lazy val bridged: Option[Try[String]] =
    if (sparkSqlOverride.isEmpty) oracle.map(o => Try(Dialect.duckToSpark(o))) else None

  /** The `spark.sql` twin: explicit override, else the bridged oracle.
    * None for bench-only sketch entries and for a bridge reject. */
  def sparkSql: Option[String] = sparkSqlOverride.orElse(bridged.flatMap(_.toOption))

  /** Whether [[sparkSql]] was derived by the bridge. */
  def bridgedTwin: Boolean = bridged.exists(_.isSuccess)

  /** The bridge's reject message, if it rejected this entry's oracle. */
  def twinError: Option[String] = bridged.flatMap(_.failed.toOption).map(_.getMessage)

  /** Attach a Spark-dialect twin where the oracle differs structurally
    * from anything the bridge derives. */
  def sqlTwin(sql: String): Entry = copy(sparkSqlOverride = Some(sql))
}

object Entry {
  /** An entry whose only implementation is its `spark.sql` twin. */
  def sql(name: String, oracle: String): Entry = Entry(name, None, Some(oracle))
  def apply(name: String, oracle: String)(fn: (SparkSession, String) => DataFrame): Entry =
    Entry(name, Some(fn), Some(oracle))
  def benchOnly(name: String)(fn: (SparkSession, String) => DataFrame): Entry =
    Entry(name, Some(fn), None)
}
