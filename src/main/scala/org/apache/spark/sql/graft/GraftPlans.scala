package org.apache.spark.sql.graft

import org.apache.spark.rdd.RDD
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.plans.logical.LogicalPlan
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
  *     `graft.core.Staging` intermediate.
  */
object GraftPlans {
  def ofRows(spark: SparkSession, plan: LogicalPlan): DataFrame =
    ClassicDataset.ofRows(spark.asInstanceOf[ClassicSession], plan)

  /** Free `rdd`'s blocks now (non-blocking), as `RDD.unpersist` does. */
  def unpersist(rdd: RDD[_]): Unit =
    rdd.sparkContext.unpersistRDD(rdd.id, blocking = false)
}
