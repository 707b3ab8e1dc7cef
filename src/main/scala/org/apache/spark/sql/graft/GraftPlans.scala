package org.apache.spark.sql.graft

import java.util.Locale

import scala.collection.mutable

import org.apache.spark.rdd.RDD
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.analysis.UnresolvedRelation
import org.apache.spark.sql.catalyst.expressions.SubqueryExpression
import org.apache.spark.sql.catalyst.plans.logical.{LogicalPlan, SubqueryAlias, UnresolvedWith}
import org.apache.spark.sql.classic.{Dataset => ClassicDataset, SparkSession => ClassicSession}

/** The engine's one doorway to Spark internals, inside the
  * `org.apache.spark.sql` namespace (Delta, Sedona and Iceberg ship the
  * same kind of shim). Everything else in the engine stays in `graft.*`
  * and uses only public API — keep it that way; this file must remain the
  * complete list of internals we touch:
  *   - `private[sql]` `Dataset.ofRows`: wraps a custom [[LogicalPlan]]
  *     back into a user-facing [[DataFrame]] (Spark exposes no public
  *     constructor for this on purpose);
  *   - `private[spark]` `SparkContext.unpersistRDD`: frees an RDD's blocks
  *     without `RDD.unpersist`'s WARN, which fires on every call for a
  *     locally checkpointed RDD — the normal release of a
  *     `graft.core.Staging` intermediate;
  *   - `private[sql]` `SessionState.sqlParser` and the parsed (unresolved)
  *     plan's node types (`UnresolvedRelation`, `UnresolvedWith` and its
  *     `cteRelations`, `SubqueryExpression`): [[sqlOver]] binds table
  *     names in a parsed query to given plans before analysis, which
  *     `spark.sql` can only do through session-global views.
  */
object GraftPlans {
  def ofRows(spark: SparkSession, plan: LogicalPlan): DataFrame =
    ClassicDataset.ofRows(spark.asInstanceOf[ClassicSession], plan)

  /** Free `rdd`'s blocks now (non-blocking), as `RDD.unpersist` does. */
  def unpersist(rdd: RDD[_]): Unit =
    rdd.sparkContext.unpersistRDD(rdd.id, blocking = false)

  /** `spark.sql(sqlText)` with each single-part table name in `tables`
    * (lower case) bound to `load(name)`'s plan instead of a catalog
    * lookup. Nothing is registered in the session, so queries over two
    * data sets can share it. The binding reaches CTE bodies (inner
    * children, which a plain `transform` skips) and subquery expressions;
    * inside a CTE's scope its name shadows a table, as in `spark.sql`.
    * Each name is loaded at most once per call; the analyzer deduplicates
    * a plan referenced twice, as it does for a view. */
  def sqlOver(spark: SparkSession, sqlText: String, tables: Set[String])(
      load: String => DataFrame): DataFrame = {
    val session = spark.asInstanceOf[ClassicSession]
    val loaded = mutable.Map.empty[String, LogicalPlan]
    def key(n: String) = n.toLowerCase(Locale.ROOT)

    def bind(plan: LogicalPlan, ctes: Set[String]): LogicalPlan = plan match {
      case w: UnresolvedWith =>
        // A definition sees the ones before it (and itself if recursive);
        // the main query sees them all.
        val (rels, scope) = w.cteRelations.foldLeft((Vector.empty[(String, SubqueryAlias, Option[Int])], ctes)) {
          case ((acc, seen), (n, body, depth)) =>
            val inBody = if (w.allowRecursion) seen + key(n) else seen
            (acc :+ ((n, bind(body, inBody).asInstanceOf[SubqueryAlias], depth)), seen + key(n))
        }
        w.copy(child = bind(w.child, scope), cteRelations = rels)
      case r: UnresolvedRelation if r.multipartIdentifier.size == 1 =>
        val n = key(r.multipartIdentifier.head)
        if (tables(n) && !ctes(n)) loaded.getOrElseUpdate(n, SubqueryAlias(n, load(n).queryExecution.analyzed))
        else r
      case p =>
        p.mapChildren(bind(_, ctes)).transformExpressions {
          case e: SubqueryExpression => e.withNewPlan(bind(e.plan, ctes))
        }
    }

    ClassicDataset.ofRows(session, bind(session.sessionState.sqlParser.parsePlan(sqlText), Set.empty))
  }
}
