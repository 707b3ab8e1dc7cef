package graft.streaming

import java.nio.file.Files

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.GraftSuite
import graft.core.{Staging, Tables}
import graft.model.ChangeLog
import graft.sync.DocSync

/** OP-10 semantics (SURVEY.md §5.2.3): checkpointed offsets + idempotent
  * merge => exactly-once TABLE STATE across stop/restart. The reference
  * loses its in-flight bulk on crash (BulkOp.java:117-135 retries only
  * while the process lives; stop() drops queued events) — our engine must
  * not. Simulated restart: run the stream to completion on a prefix of the
  * change log, then "restart" with the same checkpoint against the grown
  * source dir; only the new files may be processed, and the final doc
  * table must equal the one-shot batch fold of the whole log. */
class StreamRestartSpec extends GraftSuite {


  test("stream resumes from checkpoint; final state == one-shot batch fold") {
    val events = Tables(spark, sf, "events")
    val full = ChangeLog.fromEvents(events)
    val expected = DocSync.flattenDocs(DocSync.fold(full)).collect().toSeq

    val src = Staging.scratchDir("graft_restart_src")
    val state = Staging.scratchDir("graft_restart_state")
    val ckpt = Staging.scratchDir("graft_restart_ckpt")
    val schema = full.schema

    def runOnce(): DataFrame = {
      val stream = spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", 1).parquet(src)
      DocSync.runStream(spark, stream, state, ckpt)
    }

    // phase 1: only a temporal prefix of the log exists (seq = event_id;
    // a change-log stream arrives in order — prefix, not arbitrary split)
    val mid = 500
    Streams.writeOrderedFile(ChangeLog.fromEvents(events.filter(col("event_id") < mid)), src, 0)
    runOnce()
    val versionsAfter1 = new java.io.File(state).listFiles().count(_.getName.startsWith("v"))

    // phase 2 ("restart"): the rest of the log arrives; same checkpoint
    Streams.writeOrderedFile(ChangeLog.fromEvents(events.filter(col("event_id") >= mid)), src, 1)
    val docs2 = runOnce()
    val got = DocSync.flattenDocs(docs2).collect().toSeq
    assert(got === expected)

    // phase 3: restart with NO new data — must be a no-op (idempotent)
    val docs3 = runOnce()
    assert(DocSync.flattenDocs(docs3).collect().toSeq === expected)

    // the phase-1 batches were not reprocessed: state versions only grew by
    // the new batches, and phase 3 added none
    val versionsAfter3 = new java.io.File(state).listFiles().count(_.getName.startsWith("v"))
    assert(versionsAfter1 >= 1 && versionsAfter3 == versionsAfter1 + 1,
      s"unexpected state versions: after1=$versionsAfter1 after3=$versionsAfter3")
  }

  test("a batch touching one key rewrites only that key's bucket (O(changed) writes)") {
    import graft.model.ChangeLog.{Cell, ChangeEvent}
    import spark.implicits._
    val src = Staging.scratchDir("graft_bucket_src")
    val state = Staging.scratchDir("graft_bucket_state")
    val ckpt = Staging.scratchDir("graft_bucket_ckpt")

    def ev(key: String, seq: Long, v: String) =
      ChangeEvent("PUT", key, seq, new java.sql.Timestamp(0), Seq(Cell("f", "q", v)))
    def run(): DataFrame = {
      val schema = spark.createDataset(Seq(ev("x", 0, "x"))).toDF().schema
      val stream = spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", 1).parquet(src)
      DocSync.runStream(spark, stream, state, ckpt)
    }

    // batch 0: 64 keys spread across buckets
    val batch0 = (0 until 64).map(i => ev(s"key$i", i.toLong, s"v$i"))
    spark.createDataset(batch0).toDF().coalesce(1).write.parquet(s"$src/b0")
    new java.io.File(s"$src/b0").listFiles().filter(_.getName.endsWith(".parquet"))
      .foreach(f => Files.move(f.toPath, java.nio.file.Paths.get(s"$src/part-0.parquet")))
    run()
    val v0Buckets = new java.io.File(state).listFiles().filter(_.getName.startsWith("v"))
      .head.listFiles().count(_.getName.startsWith("bucket="))
    assert(v0Buckets > 1, s"expected many buckets in v0, got $v0Buckets")

    // batch 1: one key updated -> exactly one bucket dir in the new version
    spark.createDataset(Seq(ev("key7", 100, "updated"))).toDF()
      .coalesce(1).write.parquet(s"$src/b1")
    new java.io.File(s"$src/b1").listFiles().filter(_.getName.endsWith(".parquet"))
      .foreach(f => Files.move(f.toPath, java.nio.file.Paths.get(s"$src/part-1.parquet")))
    val docs = run()
    val vDirs = new java.io.File(state).listFiles().filter(_.getName.startsWith("v"))
      .sortBy(_.getName.drop(1).toLong)
    assert(vDirs.length == 2)
    val v1Buckets = vDirs.last.listFiles().count(_.getName.startsWith("bucket="))
    assert(v1Buckets == 1, s"single-key batch rewrote $v1Buckets buckets")

    // assembled state: all 64 keys live, key7 updated
    val m = docs.collect().map(r => r.getString(0) -> r.getMap[String, String](1)("q")).toMap
    assert(m.size == 64 && m("key7") == "updated" && m("key3") == "v3")

    // compaction folds the version chain into one full-coverage base with
    // identical contents
    DocSync.compact(spark, state)
    val afterDirs = new java.io.File(state).listFiles().filter(_.getName.startsWith("v"))
    assert(afterDirs.length == 1, s"expected 1 version after compact, got ${afterDirs.length}")
    val m2 = DocSync.flattenDocs(
      spark.read.parquet(afterDirs.head.listFiles()
        .filter(_.getName.startsWith("bucket=")).map(_.getPath): _*))
      .collect().map(r => r.getString(0)).toSeq
    assert(m2.size == 64)

    // MID-STREAM compaction: a batch arriving AFTER compaction must not
    // collide with the compacted base's version id (version ids come from
    // the directory, never from batchId) — all 64 keys must survive
    spark.createDataset(Seq(ev("key9", 200, "post-compact"))).toDF()
      .coalesce(1).write.parquet(s"$src/b2")
    new java.io.File(s"$src/b2").listFiles().filter(_.getName.endsWith(".parquet"))
      .foreach(f => Files.move(f.toPath, java.nio.file.Paths.get(s"$src/part-2.parquet")))
    val docs3 = run()
    val m3 = docs3.collect().map(r => r.getString(0) -> r.getMap[String, String](1)("q")).toMap
    assert(m3.size == 64, s"post-compaction batch lost keys: ${m3.size}")
    assert(m3("key9") == "post-compact" && m3("key7") == "updated" && m3("key3") == "v3")
  }
}
