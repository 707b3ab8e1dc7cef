package graft.queries

import scala.util.Try

import org.apache.spark.sql.{DataFrame, SparkSession}

/** One declared query: the Spark implementation plus (when SQL-expressible)
  * the DuckDB oracle SQL the driver hash-compares against (SURVEY.md §2.2).
  * Oracle-less entries get the driver's weaker rows-only check (approx /
  * sketch variants whose outputs are engine-specific by design).
  *
  * SQL entry path (SURVEY.md §3.4 entry C): every oracle-backed query must
  * ALSO run via `spark.sql` and match the DataFrame result row-for-row —
  * SqlParitySpec enforces it across the whole registry. [[sparkSql]] is
  * that twin: the oracle bridged by [[Dialect.duckToSpark]], or the
  * [[sqlTwin]] override where the twin differs structurally.
  */
case class Entry(name: String,
                 fn: (SparkSession, String) => DataFrame,
                 oracle: Option[String],
                 sparkSqlOverride: Option[String] = None) {

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
  def apply(name: String, oracle: String)(fn: (SparkSession, String) => DataFrame): Entry =
    Entry(name, fn, Some(oracle))
  def benchOnly(name: String)(fn: (SparkSession, String) => DataFrame): Entry =
    Entry(name, fn, None)
}
