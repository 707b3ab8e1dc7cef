package graft.streaming

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.GraftSuite
import graft.core.{Staging, Tables}

/** q183's exactly-once claim rests on idempotent replay, not a stateful
  * store: a batch writes ONLY its own `batch=<id>` partition, so
  * re-running the whole job over the same ordered arrivals — the
  * lost-checkpoint worst case, where every batch replays — must leave
  * the rollup byte-identical. Pin exactly that: drain once, record the
  * merged result, drain AGAIN into the SAME rollup dir with a fresh
  * checkpoint, and require the merge unchanged (same rows, and no
  * doubled counts — the failure a naive append sink would produce). */
class RollupReplaySpec extends GraftSuite {


  test("full replay into the same rollup dir changes nothing") {
    val events = Tables(spark, sf, "events")
    val src = Staging.scratchDir("graft_rollup_replay_src")
    (0 to 2).foreach(i => Streams.writeOrderedFile(events.filter(col("event_id") % 3 === i), src, i))
    val out = Staging.scratchDir("graft_rollup_replay_out")

    Streams.rollupDrain(spark, src, out)
    val first = Streams.rollupMerge(spark, out).collect().toSeq
    assert(first.nonEmpty)
    val totalN = first.map(_.getLong(2)).sum
    assert(totalN == events.count(), "rollup covers every event exactly once")

    Streams.rollupDrain(spark, src, out)   // fresh checkpoint, same out dir
    val second = Streams.rollupMerge(spark, out).collect().toSeq
    assert(second == first, "replay must be idempotent (no doubled partials)")
  }

  private def batchDirs(out: String): Seq[String] =
    new java.io.File(out).listFiles().toSeq
      .filter(f => f.isDirectory && f.getName.startsWith("batch="))
      .map(_.getName).sorted

  private def drained(): (String, Seq[org.apache.spark.sql.Row]) = {
    val events = Tables(spark, sf, "events")
    val src = Staging.scratchDir("graft_compact_src")
    (0 to 2).foreach(i => Streams.writeOrderedFile(events.filter(col("event_id") % 3 === i), src, i))
    val out = Staging.scratchDir("graft_compact_out")
    Streams.rollupDrain(spark, src, out)
    (out, Streams.rollupMerge(spark, out).collect().toSeq)
  }

  test("compaction folds old batch partitions; the merge is unchanged") {
    val (out, before) = drained()
    assert(batchDirs(out) == Seq("batch=0", "batch=1", "batch=2"))
    Streams.rollupCompact(spark, out, upTo = 2)   // folds 0 and 1
    assert(batchDirs(out) == Seq("batch=1", "batch=2"), "0+1 folded into 1")
    assert(Streams.rollupMerge(spark, out).collect().toSeq == before)
    Streams.rollupCompact(spark, out, upTo = 3)   // folds the rest
    assert(batchDirs(out) == Seq("batch=2"))
    assert(Streams.rollupMerge(spark, out).collect().toSeq == before)
  }

  test("crash after the staged fold write: recovery commits it") {
    val (out, before) = drained()
    assert(Streams.compactWrite(spark, out, upTo = 3) == Some(2L))
    // crash here: staging complete (_SUCCESS), inputs untouched
    Streams.rollupRecover(out)
    assert(batchDirs(out) == Seq("batch=2"))
    assert(Streams.rollupMerge(spark, out).collect().toSeq == before)
  }

  test("crash mid-delete: recovery re-drives the remaining deletes and the rename") {
    val (out, before) = drained()
    assert(Streams.compactWrite(spark, out, upTo = 3) == Some(2L))
    // crash mid-commit: one input already gone, staging still hidden
    graft.core.Fs.deleteRecursively(new java.io.File(s"$out/batch=0"))
    Streams.rollupRecover(out)
    assert(batchDirs(out) == Seq("batch=2"))
    assert(Streams.rollupMerge(spark, out).collect().toSeq == before)
  }
}
