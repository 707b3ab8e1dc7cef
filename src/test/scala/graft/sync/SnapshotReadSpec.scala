package graft.sync

import org.apache.spark.sql.functions._

import graft.GraftSuite
import graft.core.Staging
import graft.model.ChangeLog

/** Snapshot (time-travel) reads over the versioned merge table (q220):
  * a reader pinned to version N is immune to merges committed AFTER the
  * pin (the executable backing of the scroll-context disposition), the
  * unpinned reader sees the newest state, and a torn (uncommitted)
  * version dir is invisible to both.
  */
class SnapshotReadSpec extends GraftSuite {

  private def rows(df: org.apache.spark.sql.DataFrame): Set[String] =
    DocSync.flattenDocs(df).collect().map(_.mkString("|")).toSet

  test("pinned v0 reader survives a later merge; v1 reader sees it") {
    val dir = Staging.scratchDir("graft_snapspec")
    val log = ChangeLog.fromEvents(graft.core.Tables(spark, sf, "events"))

    // log-ordered halves (the streaming sink's contract: batch n+1 seqs
    // follow batch n's)
    val cutoff = log.agg(max(col("seq"))).head.getLong(0) / 2
    DocSync.mergeBatch(spark, log.filter(col("seq") < cutoff), dir, 16)
    val pinned = DocSync.snapshot(spark, dir, asOf = 0)
    val v0Rows = rows(pinned)                 // materialize BEFORE the writer runs

    DocSync.mergeBatch(spark, log.filter(col("seq") >= cutoff), dir, 16)

    // the pre-pinned frame AND a freshly-pinned v0 read both still see v0
    assert(rows(pinned) == v0Rows, "pinned reader leaked post-pin state")
    assert(rows(DocSync.snapshot(spark, dir, asOf = 0)) == v0Rows)

    // the full log folds to the unpinned current state == snapshot(v1)
    val full = rows(DocSync.fold(log))
    assert(rows(DocSync.docTable(spark, dir)) == full)
    assert(rows(DocSync.snapshot(spark, dir, asOf = 1)) == full)
    assert(full != v0Rows, "fixture must actually change between versions")
  }

  test("a torn version (no _coverage) is invisible to pinned and current reads") {
    val dir = Staging.scratchDir("graft_snapspec2")
    val log = ChangeLog.fromEvents(graft.core.Tables(spark, sf, "events"))
    DocSync.mergeBatch(spark, log, dir, 16)
    val committed = rows(DocSync.docTable(spark, dir))

    // fabricate a torn v1: parquet present, commit marker absent
    val torn = new java.io.File(dir, "v1")
    DocSync.fold(log.filter(col("seq") < 10))
      .withColumn("bucket", lit(0))
      .write.mode("overwrite").partitionBy("bucket").parquet(torn.getPath)

    assert(rows(DocSync.docTable(spark, dir)) == committed)
    assert(rows(DocSync.snapshot(spark, dir, asOf = 1)) == committed)
  }
}
